package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64Function}
import org.apache.spark.sql.graft.ColumnBridge

/** A real HyperLogLog for Presto's `approx_set` / `merge` /
  * `cardinality` workflow (reference: `presto-main/.../aggregation/
  * ApproximateSetAggregation.java`, `scalar/HyperLogLogFunctions.java`,
  * backed by airlift's sparse/dense HLL) — replacing the r6 KMV
  * stand-in so the ESTIMATOR matches, not just the API: register-indexed
  * max-rank buckets with the Flajolet–Fuss–Gandouet–Meunier estimator
  * and linear-counting small-range correction (the public HyperLogLog /
  * HLL++ algorithm; Flajolet et al. 2007, Heule et al. 2013).
  *
  * p = 12 → m = 4096 registers, standard error 1.04/√m ≈ 1.625% — the
  * reference's approx_set default. State is bounded (4 KB dense), the
  * merge is a register-wise max — associative, commutative, and
  * partition-order independent, so a merged-from-partials sketch is
  * BYTE-IDENTICAL to a directly-built one (the gate query asserts it).
  *
  * Representation follows the airlift sparse/dense split: states start
  * as a small (bucket → rank) map and densify at m/16 entries; the
  * serialized form picks sparse or dense by payload size, so millions
  * of tiny per-group sketches never pay the 4 KB dense footprint — the
  * property that matters when a 100 TB GROUP BY carries one sketch per
  * group through the shuffle.
  */
object HyperLogLog {

  /** Serialization magic (SketchFamily.of tells the families apart). */
  val Magic: Int = 0x484c4c2b // "HLL+"

  /** Presto approx_set precision: 4096 buckets, 1.625% standard error. */
  val DefaultP: Int = 12

  private val SparseLimitShift = 4 // densify at m / 16 entries

  final class State(val p: Int) {
    val m: Int = 1 << p
    // sparse: bucket -> max rank, boxed but tiny (≤ m/16 entries);
    // dense: one byte per bucket
    private[functions] var sparse: java.util.HashMap[Integer, java.lang.Byte] =
      new java.util.HashMap[Integer, java.lang.Byte]()
    private[functions] var dense: Array[Byte] = null

    private def densify(): Unit = {
      dense = new Array[Byte](m)
      val it = sparse.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        dense(e.getKey.intValue) = e.getValue.byteValue
      }
      sparse = null
    }

    /** Bucket = top p hash bits; rank = leading zeros of the rest + 1
      * (rank ∈ [1, 64-p+1]); registers keep the max rank seen. */
    def offer(hash: Long): Unit = {
      val idx = (hash >>> (64 - p)).toInt
      val w = hash << p
      val rank = (if (w == 0L) 64 - p else java.lang.Long.numberOfLeadingZeros(w)) + 1
      if (dense != null) {
        if (rank > dense(idx)) dense(idx) = rank.toByte
      } else {
        val cur = sparse.get(idx)
        if (cur == null || rank > cur.byteValue) {
          sparse.put(idx, rank.toByte)
          if (sparse.size > (m >> SparseLimitShift)) densify()
        }
      }
    }

    def mergeWith(o: State): Unit = {
      require(o.p == p, s"cannot merge HLLs of different precision ($p, ${o.p})")
      if (o.dense != null) {
        if (dense == null) densify()
        var i = 0
        while (i < m) {
          if (o.dense(i) > dense(i)) dense(i) = o.dense(i)
          i += 1
        }
      } else {
        val it = o.sparse.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val idx = e.getKey.intValue
          val rank = e.getValue.byteValue
          if (dense != null) {
            if (rank > dense(idx)) dense(idx) = rank
          } else {
            val cur = sparse.get(e.getKey)
            if (cur == null || rank > cur.byteValue) {
              sparse.put(e.getKey, e.getValue)
              if (sparse.size > (m >> SparseLimitShift)) densify()
            }
          }
        }
      }
    }

    /** alpha_m correction constant (Flajolet et al., m >= 128). */
    private def alpha: Double = 0.7213 / (1.0 + 1.079 / m)

    def cardinality: Long = {
      var sum = 0.0
      var zeros = 0
      if (dense != null) {
        var i = 0
        while (i < m) {
          sum += java.lang.Math.pow(2.0, -dense(i).toDouble)
          if (dense(i) == 0) zeros += 1
          i += 1
        }
      } else {
        val nz = sparse.size
        zeros = m - nz
        sum = zeros.toDouble
        val it = sparse.values().iterator()
        while (it.hasNext) sum += java.lang.Math.pow(2.0, -it.next().toDouble)
      }
      val raw = alpha * m.toDouble * m.toDouble / sum
      // small-range correction: linear counting while any register is
      // empty and the raw estimate is below 2.5m (the published rule;
      // the 64-bit hash space needs no large-range correction)
      val est =
        if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
        else raw
      math.round(est)
    }

    def serialize(): Array[Byte] = {
      val nz = if (dense != null) {
        var c = 0; var i = 0
        while (i < m) { if (dense(i) != 0) c += 1; i += 1 }
        c
      } else sparse.size
      // sparse payload: 3 bytes/entry (short bucket + byte rank)
      if (nz * 3 < m) {
        val buf = ByteBuffer.allocate(4 + 1 + 1 + 4 + 3 * nz)
        buf.putInt(Magic).put(p.toByte).put(0.toByte).putInt(nz)
        if (dense != null) {
          var i = 0
          while (i < m) {
            if (dense(i) != 0) { buf.putShort(i.toShort); buf.put(dense(i)) }
            i += 1
          }
        } else {
          // canonical order (bucket-ascending) so equal sketch CONTENT
          // serializes to equal BYTES regardless of insertion order
          val keys = new Array[Int](nz)
          val it = sparse.keySet().iterator()
          var i = 0
          while (it.hasNext) { keys(i) = it.next().intValue; i += 1 }
          java.util.Arrays.sort(keys)
          i = 0
          while (i < nz) {
            buf.putShort(keys(i).toShort)
            buf.put(sparse.get(keys(i)).byteValue)
            i += 1
          }
        }
        buf.array()
      } else {
        if (dense == null) densify()
        val buf = ByteBuffer.allocate(4 + 1 + 1 + m)
        buf.putInt(Magic).put(p.toByte).put(1.toByte).put(dense)
        buf.array()
      }
    }
  }

  def isHll(bytes: Array[Byte]): Boolean =
    bytes.length >= 6 && ByteBuffer.wrap(bytes).getInt == Magic

  def deserialize(bytes: Array[Byte]): State = {
    val buf = ByteBuffer.wrap(bytes)
    require(buf.getInt == Magic, "not a hyperloglog")
    val st = new State(buf.get.toInt)
    buf.get.toInt match {
      case 0 =>
        val n = buf.getInt
        var i = 0
        while (i < n) {
          val idx = buf.getShort.toInt & 0xFFFF
          st.sparse.put(idx, buf.get)
          i += 1
        }
      case 1 =>
        st.dense = new Array[Byte](st.m)
        st.sparse = null
        buf.get(st.dense)
    }
    st
  }

  def empty(p: Int = DefaultP): Array[Byte] = new State(p).serialize()

  // Column API
  def approxSet(c: Column, p: Int = DefaultP): Column =
    ColumnBridge.toCol(HllAgg(ColumnBridge.toExpr(c), p).toAggregateExpression())
  def mergeCol(c: Column): Column = SketchFamily.HllSketch.mergeCol(c)
}

/** approx_set(x): any atomic input, hashed with xxhash64 → serialized HLL. */
case class HllAgg(child: Expression, p: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends SketchBuild[HyperLogLog.State] {

  override def prettyName: String = "approx_set"
  override protected def family = SketchFamily.HllSketch
  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: org.apache.spark.sql.types.ArrayType |
         _: org.apache.spark.sql.types.MapType |
         _: org.apache.spark.sql.types.StructType =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects an atomic input, got ${child.dataType.catalogString}")
    case _ => TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): HyperLogLog.State =
    new HyperLogLog.State(p)

  override def update(b: HyperLogLog.State, input: InternalRow): HyperLogLog.State = {
    val v = child.eval(input)
    if (v != null) b.offer(XxHash64Function.hash(v, child.dataType, 0L))
    b
  }

  override def withNewMutableAggBufferOffset(offset: Int): HllAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): HllAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}
