package graft.queries

import org.apache.spark.sql.functions._

/** JSON, URL, and binary/crypto function coverage — finally exercising the
  * `events` fixture (JSON `props` column + nanos-timestamp shim).
  *
  * Reference: `presto-main/.../operator/scalar/JsonFunctions.java` (493 LoC),
  * `JsonExtract.java`, `UrlFunctions.java` (193 LoC),
  * `VarbinaryFunctions.java` (479 LoC).
  *
  * Spark-first notes: `get_json_object`/`from_json`/`to_json` are native
  * Catalyst expressions (Jackson-based, codegen'd); URL parsing via
  * `parse_url`. DuckDB lacks parse_url/url_encode, so those oracles rebuild
  * the same values with regex/string ops — the check compares values, not
  * implementations.
  */
object Json extends QueryPack {

  override def defs: Map[String, Q] = Map(
    "q76_json_extract" -> ((s, dir) =>
      s.table("events").filter(col("event_id") <= 500)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast("long").as("k_num"),
          expr("from_json(props, 'k BIGINT').k").as("k_parsed"),
          expr("cast(json_array_length(concat('[', props, ',', props, ']')) as bigint)")
            .as("arr_len"),
          expr("array_join(json_object_keys(props), ',')").as("keys"),
          length(col("props")).cast("long").as("js_size"))
        .orderBy(col("event_id"))),

    // JSON construction + aggregation over extracted values: group on
    // event_type, then re-serialize the rollup row as a JSON object.
    "q77_json_agg" -> ((s, dir) =>
      s.table("events")
        .groupBy(col("event_type"))
        .agg(
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(lit(1)).as("n"),
          round(avg(col("value")), 6).as("avg_value"))
        .withColumn("obj",
          to_json(struct(col("event_type").as("et"), col("n"))))
        .orderBy(col("event_type"))),

    "q78_url_funcs" -> ((s, dir) =>
      s.table("events").filter(col("event_id") <= 500)
        .withColumn("url", concat(
          lit("https://example.com/"), col("event_type"),
          lit("/page?uid="), col("user_id"), lit("&v=2")))
        .select(
          col("event_id"),
          expr("parse_url(url, 'PROTOCOL')").as("proto"),
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY')").as("query"),
          expr("parse_url(url, 'QUERY', 'uid')").as("uid_param"),
          expr("url_encode(concat(event_type, ' ', user_id))").as("enc"),
          expr("url_decode(url_encode(event_type))").as("dec"))
        .orderBy(col("event_id"))),

    "q79_binary_crypto" -> ((s, dir) =>
      s.table("customer").filter(col("c_custkey") <= 300)
        .select(
          col("c_custkey"),
          md5(col("c_name").cast("binary")).as("name_md5"),
          sha2(col("c_name").cast("binary"), 256).as("name_sha256"),
          base64(col("c_name").cast("binary")).as("name_b64"),
          expr("cast(unbase64(base64(cast(c_name as binary))) as string)")
            .as("b64_roundtrip"),
          hex(col("c_custkey")).as("key_hex"),
          upper(hex(col("c_name").cast("binary"))).as("name_hex"))
        .orderBy(col("c_custkey")))
  )

  override def oracles: Map[String, String] = Map(
    "q76_json_extract" ->
      """SELECT event_id,
        | json_extract_string(props, '$.k') AS k_str,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_parsed,
        | CAST(json_array_length('[' || props || ',' || props || ']') AS BIGINT) AS arr_len,
        | array_to_string(json_keys(props), ',') AS keys,
        | CAST(length(props) AS BIGINT) AS js_size
        |FROM events WHERE event_id <= 500 ORDER BY event_id""".stripMargin,

    "q77_json_agg" ->
      """WITH g AS (
        |  SELECT event_type,
        |   sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS sum_k,
        |   count(*) AS n,
        |   round(avg(value), 6) AS avg_value
        |  FROM events GROUP BY event_type)
        |SELECT event_type, CAST(sum_k AS BIGINT) AS sum_k, n, avg_value,
        | to_json({'et': event_type, 'n': n}) AS obj
        |FROM g ORDER BY event_type""".stripMargin,

    "q78_url_funcs" ->
      """SELECT event_id,
        | 'https' AS proto,
        | 'example.com' AS host,
        | '/' || event_type || '/page' AS path,
        | 'uid=' || user_id || '&v=2' AS query,
        | CAST(user_id AS VARCHAR) AS uid_param,
        | event_type || '+' || user_id AS enc,
        | event_type AS dec
        |FROM events WHERE event_id <= 500 ORDER BY event_id""".stripMargin,

    "q79_binary_crypto" ->
      """SELECT c_custkey,
        | md5(c_name) AS name_md5,
        | sha256(c_name) AS name_sha256,
        | base64(CAST(c_name AS BLOB)) AS name_b64,
        | c_name AS b64_roundtrip,
        | hex(c_custkey) AS key_hex,
        | upper(hex(CAST(c_name AS BLOB))) AS name_hex
        |FROM customer WHERE c_custkey <= 300 ORDER BY c_custkey""".stripMargin
  )
}
