package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.util.SerializableConfiguration

/** The lean parquet read path (LeanParquetFileFormat): the Hadoop conf it
  * broadcasts carries the same keys and values in fewer bytes, both
  * branches of Tables.parquet plan it, and it reads the same rows as
  * Spark's own parquet format. Also the broadcast block size. */
class LeanParquetSuite extends GraftSuite {

  import spark.implicits._

  /** The conf as a scan's broadcast ships it: Java serialization of a
    * SerializableConfiguration. Returns the deserialized conf and the
    * serialized size. */
  private def roundTrip(c: Configuration): (Configuration, Int) = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new SerializableConfiguration(c))
    out.close()
    val in = new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray))
    (in.readObject().asInstanceOf[SerializableConfiguration].value, bytes.size)
  }

  private def entries(c: Configuration): Map[String, String] =
    c.iterator.asScala.map(e => e.getKey -> e.getValue).toMap

  /** The file formats of the scans Spark plans for `df`. */
  private def scanFormats(df: DataFrame): Seq[Class[_]] =
    df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.relation.fileFormat.getClass
    }

  private val lean = classOf[LeanParquetFileFormat]

  test("the lean conf round-trips the session conf's keys and values, smaller") {
    val conf = spark.sessionState.newHadoopConf()
    val (full, fullBytes) = roundTrip(conf)
    val (slim, slimBytes) =
      roundTrip(new LeanParquetFileFormat.ProvenanceFreeConf(conf))
    assert(entries(conf).size > 100)
    assert(entries(slim) == entries(conf))
    assert(entries(full) == entries(conf))
    assert(slimBytes < fullBytes, s"$slimBytes >= $fullBytes")
    // provenance is the one thing left out: readFields records every
    // key without shipped sources as set programmatically
    def sources(c: Configuration, k: String) =
      Option(c.getPropertySources(k)).map(_.toSeq)
    val fromFiles = entries(conf).keys.filter(k =>
      !sources(conf, k).contains(Seq("programmatically")))
    assert(fromFiles.nonEmpty)
    fromFiles.foreach { k =>
      assert(sources(full, k) == sources(conf, k), k)
      assert(sources(slim, k).contains(Seq("programmatically")), k)
    }
  }

  test("Tables.parquet plans the lean format on the footer and fallback branches") {
    val viaFooter = Tables.parquet(spark, s"$SfDir/nation.parquet")
    assert(scanFormats(viaFooter) == Seq(lean))
    // the registered temp views keep it
    assert(scanFormats(Tables.view(spark, SfDir, "nation")) == Seq(lean))
    withTempDir("graft_lean_parted") { tmp =>
      val parted = tmp.resolve("parted").toString
      Seq((1L, 7), (2L, 8), (3L, 7)).toDF("id", "k")
        .write.partitionBy("k").parquet(parted)
      assert(Footers.schema(spark, parted).isFailure) // forces the fallback
      val viaFallback = Tables.parquet(spark, parted)
      assert(scanFormats(viaFallback) == Seq(lean))
      assert(viaFallback.schema.fieldNames.toSeq == Seq("id", "k"))
      assert(viaFallback.filter($"k" === 7).select($"id").as[Long]
        .collect().sorted.toSeq == Seq(1L, 3L))
      // several paths at once, as compaction reads them
      val files = viaFallback.inputFiles.toSeq
      assert(files.size == 3)
      assert(Tables.readParquet(spark, files: _*).count() == 3L)
    }
  }

  test("every fixture table reads the same rows as spark.read.parquet") {
    Tables.register(spark, SfDir) // sets nanosAsLong, which events needs
    Tables.names.foreach { n =>
      val p = s"$SfDir/$n.parquet"
      val ours = Tables.parquet(spark, p)
      val spark_ = spark.read.parquet(p)
      assert(ours.schema == spark_.schema, n)
      def rows(df: DataFrame) = df.collect().toSeq.sortBy(_.toString)
      val got = rows(ours)
      assert(got.nonEmpty, n)
      assert(got == rows(spark_), n)
    }
  }

  test("the session's broadcast block stays below half a G1 region") {
    val bytes = spark.sparkContext.getConf
      .getSizeAsBytes("spark.broadcast.blockSize")
    assert(bytes == 256L * 1024)
    assert(bytes < 512L * 1024) // half of G1's smallest (1 MB) region
  }
}
