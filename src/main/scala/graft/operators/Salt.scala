package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for shuffle joins: salt the hot keys.
  *
  * A shuffle join on a skewed key sends every row of the hot key to one
  * task; at 100 TB that single task is the job. `saltedJoin` spreads each
  * key over `salts` sub-partitions by appending a salt column derived from
  * the row (deterministic — no RNG), and replicates the dimension side
  * `salts`-fold so every sub-partition can match. Join OUTPUT is identical
  * to the unsalted join (the salt is internal), which is what the
  * differential oracle checks.
  *
  * Reference semantics: Presto handles the same problem with
  * `REPLICATED` distribution or the skew-aware exchange planning in
  * `DetermineJoinDistributionType`; Spark's AQE skew-join split
  * (`spark.sql.adaptive.skewJoin.enabled`) covers post-shuffle skew
  * automatically — explicit salting remains the tool when one key alone
  * exceeds a task's capacity, or for skewed AGGREGATIONS (two-level
  * salt → final combine).
  *
  * Broadcast beats salting whenever the dim fits in memory; this operator
  * targets the non-broadcastable case (the query pack forces a shuffle
  * join with a hint to keep the demonstration honest).
  */
object Salt {

  /** Equi-join `skewed ⋈ dim` on `key`, with the skewed side salted into
    * `salts` sub-keys. Pass the salt expression if the row has a natural
    * unique column; defaults to hashing the whole row. */
  def saltedJoin(skewed: DataFrame, dim: DataFrame, key: String,
                 salts: Int): DataFrame = {
    val saltCol = pmod(xxhash64(skewed.columns.map(col).toSeq: _*),
      lit(salts.toLong))
    val salted = skewed.withColumn("__salt", saltCol)
    val dimRep = dim.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1L))))
    salted.join(dimRep.hint("shuffle_hash"), Seq(key, "__salt"))
      .drop("__salt")
  }
}
