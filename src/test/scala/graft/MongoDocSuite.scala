package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.MongoStore

/** The MongoDB-shaped connector (sources/MongoDocConn.scala):
  * first-document schema inference with nested rows, the
  * query-document pushdown surface, schema-on-read tolerance, and the
  * insert write path. */
class MongoDocSuite extends GraftSuite {

  private def mkColl(name: String): Unit = {
    MongoStore.drop(name)
    (1 to 100).foreach { i =>
      MongoStore.insert(name, Map(
        "id" -> i.toLong,
        "kind" -> s"k${i % 4}",
        "score" -> i * 0.5,
        "user" -> Map("uid" -> (i % 10).toLong, "vip" -> (i % 7 == 0)),
        "tags" -> Seq(s"t${i % 3}", s"t${i % 5}")))
    }
  }

  private def read(name: String) =
    spark.read.format("graft-mongo").option("collection", name).load()

  test("schema is guessed from the first document, nested and sorted") {
    mkColl("mg_schema")
    val schema = read("mg_schema").schema
    assert(schema.fieldNames.toSeq ==
      Seq("id", "kind", "score", "tags", "user"))
    assert(schema("user").dataType == StructType(Seq(
      StructField("uid", LongType), StructField("vip", BooleanType))))
    assert(schema("tags").dataType == ArrayType(StringType))
    // an unguessable field (null in the first doc / mixed-type list)
    // drops from the schema, like guessFieldType's empty return
    MongoStore.drop("mg_guess")
    MongoStore.insert("mg_guess", Map(
      "a" -> 1L, "b" -> null, "c" -> Seq(1L, "x")))
    assert(read("mg_guess").schema.fieldNames.toSeq == Seq("a"))
  }

  test("query-document pushdown: eq/in/range/exists, residual rest") {
    mkColl("mg_push")
    val q = read("mg_push")
      .filter(col("kind") === "k1" && col("score") > 10.0 &&
        col("score") <= 40.0)
    val plan = q.queryExecution.executedPlan.treeString
    assert(plan.contains("PushedFilters"), plan)
    assert(!plan.contains("Filter ("), s"residual re-filter planned:\n$plan")
    // kind k1: i % 4 == 1; score in (10, 40] -> i in [21, 80] -> 15
    assert(q.count() == 15)
    assert(read("mg_push").filter(col("kind").isin("k0", "k2")).count() == 50)
    // a nested-path predicate stays residual but answers exactly
    val nested = read("mg_push").filter(col("user.vip") === true)
    assert(nested.queryExecution.executedPlan.treeString.contains("Filter"))
    assert(nested.count() == 14) // i % 7 == 0, 1..100
  }

  test("single collection split, the reference's own bound") {
    mkColl("mg_split")
    assert(read("mg_split").rdd.getNumPartitions == 1)
  }

  test("schema-on-read: documents that drifted from the guess read NULL") {
    MongoStore.drop("mg_drift")
    MongoStore.insert("mg_drift", Map("a" -> 1L, "b" -> "x"))
    MongoStore.insert("mg_drift", Map("a" -> 2L, "b" -> 7L)) // b drifted
    MongoStore.insert("mg_drift", Map("a" -> 3L)) // b missing
    val rows = read("mg_drift").orderBy("a").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows(0).getString(1) == "x")
    assert(rows(1).isNullAt(1) && rows(2).isNullAt(1))
  }

  test("writes insert documents; nested rows round-trip") {
    import spark.implicits._
    MongoStore.drop("mg_write")
    // seed one doc so schema inference has a prototype
    MongoStore.insert("mg_write", Map(
      "id" -> 0L, "meta" -> Map("name" -> "seed", "rank" -> 0L)))
    Seq((1L, "alpha", 3L), (2L, "beta", 9L))
      .toDF("id", "name", "rank")
      .select(col("id"),
        struct(col("name"), col("rank")).as("meta"))
      .write.mode("append").format("graft-mongo")
      .option("collection", "mg_write").save()
    val rows = read("mg_write").orderBy("id")
      .select(col("id"), col("meta.name"), col("meta.rank")).collect()
    assert(rows.length == 3)
    assert(rows(1).getString(1) == "alpha" && rows(2).getLong(2) == 9L)
  }

  test("exact hit statistics let a selective query broadcast") {
    mkColl("mg_bc")
    val dim = read("mg_bc").filter(col("kind") === "k3")
      .select(col("id"), col("score"))
    val fact = spark.range(0, 4000).toDF("n")
      .withColumn("id", col("n") % 100 + 1)
    val plan = fact.join(dim, "id").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"selective mongo query should broadcast:\n$plan")
  }

  test("bigint fields compare as bigints, not as doubles") {
    // 2^53 and 2^53 + 1 are one double apart from nothing: as doubles
    // they are equal
    val name = "mg_long"
    MongoStore.drop(name)
    Seq(1L << 53, (1L << 53) + 1).foreach(v =>
      MongoStore.insert(name, Map("v" -> v)))
    val df = read(name)
    assert(df.filter(col("v") === lit((1L << 53) + 1)).count() == 1)
    assert(df.filter(col("v") > lit(1L << 53)).count() == 1)
    assert(df.filter(col("v") >= lit(1L << 53)).count() == 2)
  }
}
