package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The Hive connector's partitioned-table OPERATIONS surface — the
  * pieces around the scan that a 100 TB partition-laid-out warehouse
  * actually drives every day:
  *
  *   - '''Hidden columns''' `$path` / `$bucket`
  *     (`presto-hive/.../HiveColumnHandle.java:41-47,207-232` —
  *     SYNTHESIZED columns served from the split, not the data).
  *     Spark-first: the file source's own `_metadata` struct
  *     (`file_path`/`file_name`/`file_size`) IS the split-synthesized
  *     column — zero data-page cost, constant per file. `$bucket`
  *     derives from the bucketed layout's file naming
  *     (`part-N-uuid_BBBBB.c000`), the same file→bucket mapping the
  *     reference reads off its split.
  *   - '''Table-suffix system tables''' `"t$partitions"` /
  *     `"t$properties"` (`HiveMetadata.java:407-415,2788-2811`) —
  *     catalog metadata served as queryable relations, no file I/O.
  *     Routed in [[graft.functions.PrestoSystem]].
  *   - '''insert_existing_partitions_behavior''' session property
  *     (`HiveSessionProperties.java:48,106-117`: ERROR / APPEND /
  *     OVERWRITE) applied by [[insertExisting]]: APPEND lands new
  *     files beside the old (`HiveMetadata.java:1619-1635`),
  *     OVERWRITE drops only the partitions the insert touches
  *     (`:1636-1648` dropPartition arm — Spark's DYNAMIC partition
  *     overwrite, never the whole table), ERROR fails loudly on any
  *     existing partition (`:1647`) while still admitting brand-new
  *     partitions.
  *   - '''CALL system.create_empty_partition'''
  *     (`CreateEmptyPartitionProcedure.java:76-117`) — a catalog-only
  *     partition registration (ALTER TABLE ADD PARTITION), with the
  *     reference's two loud arms (column mismatch, already exists).
  *
  * Scale stance: everything here is metadata-sized driver work
  * (partition listings, catalog ops) or a normal distributed write;
  * the hidden-column reads stay file-constant and never widen the
  * parquet projection.
  */
object HiveLayout extends QueryPack {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.view(s, dir, n)

  private def tbl(prefix: String, dir: String): String =
    s"graft_${prefix}_${Integer.toHexString(dir.hashCode)}"

  /** Apply the reference's insert-existing-partitions behavior for an
    * insert of `df` into partitioned `table`. `behavior` defaults to
    * the session's `insert_existing_partitions_behavior` property. */
  def insertExisting(s: SparkSession, table: String, df: DataFrame,
      partCol: String, behavior: Option[String] = None): Unit = {
    val mode = behavior.getOrElse(graft.functions.Registry
      .sessionPropValue(s, "insert_existing_partitions_behavior"))
      .toUpperCase
    // insertInto binds POSITIONALLY and a partitioned table's partition
    // columns sit last in its schema — bind by name like the
    // reference's column-handle mapping
    val df0 = df.select(s.table(table).columns.map(col).toSeq: _*)
    mode match {
      case "APPEND" =>
        df0.write.mode("append").insertInto(table)
      case "OVERWRITE" =>
        // the reference drops ONLY the partitions present in the
        // insert (HiveMetadata.java:1643-1645) — Spark's dynamic
        // partition overwrite is exactly that contract
        val prior = s.conf.get("spark.sql.sources.partitionOverwriteMode")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try df0.write.mode("overwrite").insertInto(table)
        finally s.conf.set(
          "spark.sql.sources.partitionOverwriteMode", prior)
      case "ERROR" =>
        // check-then-act: correct under this engine's single-writer-
        // per-table contract; a concurrent writer could land a
        // partition between the listing and the append (the reference
        // closes that window with its metastore commit transaction)
        val existing = s.sql(s"SHOW PARTITIONS $table").collect()
          .map(_.getString(0)).toSet
        val incoming = df.select(col(partCol)).distinct().collect()
          .map(r => s"$partCol=${r.get(0)}")
        incoming.find(existing.contains).foreach(p =>
          sys.error("Cannot insert into an existing partition of " +
            s"Hive table: $p"))
        df0.write.mode("append").insertInto(table)
      case other =>
        sys.error("No enum constant InsertExistingPartitionsBehavior." +
          other)
    }
  }

  /** DELETE with the reference's metadata-delete optimization
    * (`presto-main/.../optimizations/MetadataDeleteOptimizer.java`:
    * a DELETE whose predicate the connector handles wholly — for Hive,
    * partition-column-only — becomes a MetadataDeleteNode, and
    * `HiveMetadata` drops whole partitions without touching a row).
    *
    * Spark-first: when `cond` references ONLY partition columns, the
    * predicate evaluates against the CATALOG's partition listing (the
    * `$partitions` machinery — zero data-file reads) and matches drop
    * via ALTER TABLE DROP PARTITION. Otherwise the copy-on-write
    * fallback is PARTITION-SCOPED: only partitions holding matching
    * rows rewrite (dynamic overwrite of kept rows; a partition left
    * with zero rows drops), untouched partitions' files stay
    * byte-identical — at 100 TB that is the difference between
    * rewriting a day and rewriting the table.
    *
    * Returns the number of whole partitions dropped by the metadata
    * path (0 for the row path, like the reference's MetadataDelete
    * rows-affected accounting being connector metadata). */
  def delete(s: SparkSession, table: String,
      cond: org.apache.spark.sql.Column): Long = {
    val partCols = s.catalog.listColumns(table).collect()
      .filter(_.isPartition).map(_.name).toSeq
    // resolve the predicate's referenced columns through ANALYSIS
    // (plan-only, zero data reads — Spark 4 Columns are opaque nodes
    // until bound to a plan)
    val refs = s.table(table).filter(cond).queryExecution.analyzed
      .collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition.references.map(_.name.toLowerCase).toSet
      }.getOrElse(Set.empty[String])
    val partSet = partCols.map(_.toLowerCase).toSet
    if (refs.nonEmpty && refs.subsetOf(partSet)) {
      // metadata path: filter the partition LISTING, never the data
      import graft.functions.Registry.prestoStatement
      val matches = prestoStatement(s,
        s"""SELECT * FROM "$table$$partitions"""")
        .filter(cond).collect()
      matches.foreach { row =>
        val spec = partCols.zipWithIndex.map { case (c, i) =>
          s"$c = '${String.valueOf(row.get(i)).replace("'", "''")}'"
        }.mkString(", ")
        s.sql(s"ALTER TABLE $table DROP PARTITION ($spec)")
      }
      matches.length.toLong
    } else {
      // partition-scoped copy-on-write: rewrite ONLY the partitions
      // holding matching rows
      require(partCols.size == 1,
        "row-path delete supports single-partition-column tables")
      val pc = partCols.head
      val t = s.table(table)
      val touched = t.filter(cond).select(col(pc)).distinct()
        .collect().map(_.get(0)).toSeq
      if (touched.nonEmpty) {
        val kept = t.filter(col(pc).isin(touched: _*))
          .filter(!coalesce(cond, lit(false)))
          .localCheckpoint() // materialize BEFORE overwriting the source
        val keptParts = kept.select(col(pc)).distinct()
          .collect().map(_.get(0)).toSet
        if (keptParts.nonEmpty) {
          val prior =
            s.conf.get("spark.sql.sources.partitionOverwriteMode")
          s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          try kept.select(t.columns.map(col).toSeq: _*)
            .write.mode("overwrite").insertInto(table)
          finally s.conf.set(
            "spark.sql.sources.partitionOverwriteMode", prior)
        }
        // a partition whose rows ALL matched has nothing to rewrite —
        // it drops, like the reference's whole-partition arm
        touched.filterNot(keptParts.contains).foreach(v =>
          s.sql(s"ALTER TABLE $table DROP PARTITION " +
            s"($pc = '${String.valueOf(v).replace("'", "''")}')"))
      }
      0L
    }
  }

  override def defs: Map[String, Q] = Map(

    // $path + $bucket hidden columns. The partitioned arm groups rows
    // by the partition value EXTRACTED FROM $path (so the path's
    // layout, not the column, drives the answer) with a controlled
    // one-file-per-partition layout; the bucketed arm reads each row's
    // bucket off the file name and asserts the bucket invariants
    // (4 buckets present, each key in exactly one bucket).
    "q3e_hidden_columns" -> ((s, dir) => {
      import s.implicits._
      val base = t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 45)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      val out = Storage.ctasPath(s, dir) + "_hid"
      // one task per flag -> exactly one file per partition directory
      base.repartition(4, col("l_returnflag"))
        .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
      val withMeta = s.read.parquet(out).select(
        col("l_orderkey"),
        col("l_returnflag"),
        col("_metadata.file_path").as("path"),
        col("_metadata.file_size").as("fsize"))
      val perFlag = withMeta
        .withColumn("dir_flag",
          regexp_extract(col("path"), "l_returnflag=([^/]+)/", 1))
        .groupBy(col("dir_flag"))
        .agg(count(lit(1)).as("nrows"),
          countDistinct(col("path")).as("nfiles"),
          min(col("dir_flag") === col("l_returnflag")).as("dirs_match"),
          min(col("fsize") > 0).as("size_pos"))
        .collect()
      // bucketed arm: $bucket from the bucketed file layout
      val bt = tbl("hid_bkt", dir)
      s.sql(s"DROP TABLE IF EXISTS $bt")
      base.repartition(1)
        .write.mode("overwrite")
        .option("path", out + "_bkt")
        .bucketBy(4, "l_orderkey").saveAsTable(bt)
      val bucketed = s.table(bt).select(
        col("l_orderkey"),
        regexp_extract(col("_metadata.file_name"), "_(\\d+)\\.c000", 1)
          .cast("int").as("bucket"))
      val nBuckets = bucketed.select(countDistinct(col("bucket")))
        .as[Long].head()
      val singleBucket = bucketed.groupBy(col("l_orderkey"))
        .agg(countDistinct(col("bucket")).as("nb"))
        .agg(max(col("nb")).as("m")).as[Long].head() == 1L
      val rows =
        perFlag.toSeq.flatMap { r =>
          Seq(
            (s"files_${r.getString(0)}", r.getLong(2).toString),
            (s"rows_${r.getString(0)}", r.getLong(1).toString))
        } ++ Seq(
          ("x_bucket_count", nBuckets.toString),
          ("x_dirs_match", perFlag.forall(_.getBoolean(3)).toString),
          ("x_key_single_bucket", singleBucket.toString),
          ("x_size_positive", perFlag.forall(_.getBoolean(4)).toString))
      rows.toDF("k", "v").orderBy(col("k"))
    }),

    // "t$partitions" / "t$properties" through the statement router:
    // partition VALUES typed per the table schema from catalog
    // metadata only (the plan must not touch a file), properties as
    // one key-sorted row, and the reference's unresolved-table arm for
    // a non-partitioned source.
    "q3f_partitions_system_table" -> ((s, dir) => {
      import s.implicits._
      Tables.register(s, dir)
      graft.functions.Registry.install(s)
      import graft.functions.Registry.prestoStatement
      val pt = tbl("psys", dir)
      s.sql(s"DROP TABLE IF EXISTS $pt")
      t(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
        .filter(col("o_year").isin(1995, 1996, 1997))
        .repartition(4, col("o_year"))
        .write.mode("overwrite")
        .option("path", Storage.ctasPath(s, dir) + "_psys")
        .partitionBy("o_year").saveAsTable(pt)
      s.sql(s"ALTER TABLE $pt SET TBLPROPERTIES " +
        "('graft.owner' = 'etl', 'graft.retention' = '30d')")
      val parts = prestoStatement(s,
        s"""SELECT * FROM "$pt$$partitions" ORDER BY o_year""")
      val metadataOnly = !parts.queryExecution.executedPlan.toString
        .contains("FileScan")
      val typed = parts.schema.fields.head.dataType ==
        org.apache.spark.sql.types.IntegerType
      val partRows = parts.collect().map(_.getInt(0))
      val props = prestoStatement(s, s"""SELECT * FROM "$pt$$properties"""")
      val propCols = props.schema.fieldNames.toSeq
      val sortedCols = propCols == propCols.sorted
      val propRow = props.collect()(0)
      val ownerOk =
        propRow.getString(propCols.indexOf("graft.owner")) == "etl"
      val retentionOk =
        propRow.getString(propCols.indexOf("graft.retention")) == "30d"
      val npt = tbl("psys_np", dir)
      s.sql(s"DROP TABLE IF EXISTS $npt")
      s.sql(s"CREATE TABLE $npt (k BIGINT) USING parquet")
      val nonPartRejected =
        try { prestoStatement(s, s"""SELECT * FROM "$npt$$partitions""""); false }
        catch { case e: Exception =>
          e.getMessage.contains("does not exist") }
      (partRows.toSeq.map(y => (s"part_$y", "listed")) ++ Seq(
        ("x_metadata_only", metadataOnly.toString),
        ("x_nonpartitioned_rejected", nonPartRejected.toString),
        ("x_one_props_row", (props.count() == 1L).toString),
        ("x_props_cols_sorted", sortedCols.toString),
        ("x_props_values", (ownerOk && retentionOk).toString),
        ("x_typed_int", typed.toString)))
        .toDF("k", "v").orderBy(col("k"))
    }),

    // insert_existing_partitions_behavior: ERROR refuses an existing
    // partition (but admits a brand-new one), APPEND lands beside,
    // OVERWRITE replaces only the touched partition. Final per-year
    // counts replay as CASE arithmetic in the oracle.
    "q3g_insert_existing_partitions" -> ((s, dir) => {
      import s.implicits._
      Tables.register(s, dir)
      graft.functions.Registry.install(s)
      import graft.functions.Registry.prestoStatement
      val pt = tbl("iep", dir)
      val yearly = t(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      s.sql(s"DROP TABLE IF EXISTS $pt")
      yearly.filter(col("o_year").isin(1995, 1996, 1997))
        .repartition(4, col("o_year"))
        .write.mode("overwrite")
        .option("path", Storage.ctasPath(s, dir) + "_iep")
        .partitionBy("o_year").saveAsTable(pt)
      // ERROR: the session default is APPEND; set ERROR explicitly
      // (RESET in a finally so a failure can't leak the property into
      // the shared driver session)
      prestoStatement(s,
        "SET SESSION insert_existing_partitions_behavior = 'ERROR'")
      val errorRefused =
        try {
          val refused =
            try {
              insertExisting(s, pt,
                yearly.filter(col("o_year") === 1996), "o_year")
              false
            } catch { case e: Exception => e.getMessage
              .contains("Cannot insert into an existing partition") }
          // ERROR still admits a partition that does not exist yet
          insertExisting(s, pt,
            yearly.filter(col("o_year") === 1998), "o_year")
          refused
        } finally prestoStatement(s,
          "RESET SESSION insert_existing_partitions_behavior")
      // APPEND (the session default): even keys of 1996 land beside
      insertExisting(s, pt, yearly.filter(col("o_year") === 1996)
        .filter(col("o_orderkey") % 2 === 0), "o_year")
      // OVERWRITE: 1997 replaced by only its even keys; 1995 untouched
      insertExisting(s, pt, yearly.filter(col("o_year") === 1997)
        .filter(col("o_orderkey") % 2 === 0), "o_year",
        behavior = Some("OVERWRITE"))
      val counts = s.table(pt).groupBy(col("o_year"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (s"year_${r.getInt(0)}", r.getLong(1).toString)).toSeq
      (counts :+ ("x_error_refused", errorRefused.toString))
        .toDF("k", "v").orderBy(col("k"))
    }),

    // CALL system.create_empty_partition: catalog-only registration
    // visible to $partitions and scans (zero rows), plus the
    // reference's loud arms.
    "q3h_create_empty_partition" -> ((s, dir) => {
      import s.implicits._
      Tables.register(s, dir)
      graft.functions.Registry.install(s)
      import graft.functions.Registry.prestoStatement
      val pt = tbl("cep", dir)
      s.sql(s"DROP TABLE IF EXISTS $pt")
      t(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
        .filter(col("o_year").isin(1995, 1996))
        .repartition(2, col("o_year"))
        .write.mode("overwrite")
        .option("path", Storage.ctasPath(s, dir) + "_cep")
        .partitionBy("o_year").saveAsTable(pt)
      val db = s.catalog.currentDatabase
      prestoStatement(s,
        s"""CALL system.create_empty_partition(
           |  schema_name => '$db', table_name => '$pt',
           |  partition_columns => ARRAY['o_year'],
           |  partition_values => ARRAY['2099'])""".stripMargin)
      val parts = prestoStatement(s,
        s"""SELECT * FROM "$pt$$partitions" ORDER BY o_year""")
        .collect().map(_.getInt(0)).toSeq
      val emptyCount =
        s.table(pt).filter(col("o_year") === 2099).count()
      val dupRejected =
        try {
          prestoStatement(s, s"CALL system.create_empty_partition(" +
            s"'$db', '$pt', ARRAY['o_year'], ARRAY['2099'])")
          false
        } catch { case e: Exception =>
          e.getMessage.contains("Partition already exists") }
      val mismatchRejected =
        try {
          prestoStatement(s, s"CALL system.create_empty_partition(" +
            s"'$db', '$pt', ARRAY['not_a_col'], ARRAY['1'])")
          false
        } catch { case e: Exception => e.getMessage
          .contains("doesn't match actual partition column names") }
      (parts.map(y => (s"part_$y", "listed")) ++ Seq(
        ("x_duplicate_rejected", dupRejected.toString),
        ("x_empty_scan_rows", emptyCount.toString),
        ("x_mismatch_rejected", mismatchRejected.toString)))
        .toDF("k", "v").orderBy(col("k"))
    }),

    // DELETE with the MetadataDeleteOptimizer arm: a partition-only
    // predicate drops whole partitions from the CATALOG (the 1996
    // files stay byte-identical on disk — zero data I/O, proven);
    // mixed predicates take the PARTITION-SCOPED copy-on-write (only
    // 1997 rewrites; 1998's files stay byte-identical); a partition
    // whose rows all match drops like the whole-partition arm.
    "q3k_metadata_delete" -> ((s, dir) => {
      import s.implicits._
      Tables.register(s, dir)
      graft.functions.Registry.install(s)
      val pt = tbl("mdel", dir)
      val path = Storage.ctasPath(s, dir) + "_mdel"
      val yearly = t(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
      s.sql(s"DROP TABLE IF EXISTS $pt")
      yearly.filter(col("o_year").isin(1995, 1996, 1997, 1998))
        .repartition(4, col("o_year"))
        .write.mode("overwrite").option("path", path)
        .partitionBy("o_year").saveAsTable(pt)
      def dirFiles(y: Int): Set[String] = {
        val d = new java.io.File(new java.net.URI(
          if (path.startsWith("file:")) path else "file:" + path)
          .getPath, s"o_year=$y")
        Option(d.list()).map(_.toSet).getOrElse(Set.empty)
      }
      val f1996 = dirFiles(1996)
      val f1998 = dirFiles(1998)
      // 1) partition-only predicate -> the metadata path
      val dropped = HiveLayout.delete(s, pt, col("o_year") === 1996)
      val metaScanZero =
        s.table(pt).filter(col("o_year") === 1996).count() == 0L
      val metaFilesUntouched = f1996.nonEmpty && dirFiles(1996) == f1996
      // 2) mixed predicate -> partition-scoped copy-on-write (1997)
      HiveLayout.delete(s, pt,
        col("o_orderkey") % 2 === 0 && col("o_year") === 1997)
      // 3) a row-path delete matching a WHOLE partition drops it
      HiveLayout.delete(s, pt,
        col("o_orderkey") > 0 && col("o_year") === 1995)
      val scopedUntouched = f1998.nonEmpty && dirFiles(1998) == f1998
      val partsLeft = s.sql(s"SHOW PARTITIONS $pt").collect()
        .map(_.getString(0)).toSet
      val counts = s.table(pt).groupBy(col("o_year"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (s"year_${r.getInt(0)}", r.getLong(1).toString)).toSeq
      (counts ++ Seq(
        ("x_empty_partition_dropped",
          (!partsLeft.contains("o_year=1995")).toString),
        ("x_meta_dropped", dropped.toString),
        ("x_meta_files_untouched", metaFilesUntouched.toString),
        ("x_meta_scan_zero", metaScanZero.toString),
        ("x_scoped_files_untouched", scopedUntouched.toString)))
        .toDF("k", "v").orderBy(col("k"))
    }),

    // CREATE TABLE ... WITH (properties) — the Hive table-layout DDL
    // (HiveTableProperties.java:42-51) through the statement router,
    // and the sorted_by WRITE CONTRACT it exists for
    // (SortingFileWriter: every bucket file is internally sorted;
    // HiveWriterFactory: one file per bucket): with both join sides
    // laid out sorted-bucketed on the key, the merge join plans with
    // ZERO Sort operators AND zero exchanges — at 100 TB that deletes
    // both the shuffle and the per-task sort from every co-bucketed
    // fact-fact join, the whole point of paying the sorted write once.
    // Booleans lock: one file per bucket, files internally sorted
    // (distributed per-file monotonicity check), the sort-free plan,
    // the negative control (the UNSORTED bucketed layout re-plans its
    // sorts — proving the assertion discriminates), and the
    // sorted_by-without-bucketed_by rejection with the reference's
    // text (HiveTableProperties.java:180). Join aggregates replay in
    // DuckDB over integer-valued quantities (the q1k/q2r drift rule).
    "q3l_sorted_table_properties" -> ((s, dir) => {
      import s.implicits._
      Tables.register(s, dir)
      graft.functions.Registry.install(s)
      import graft.functions.Registry.prestoStatement
      val base = Storage.ctasPath(s, dir)
      val li = tbl("ctw_li", dir)
      val ord = tbl("ctw_ord", dir)
      val liU = tbl("ctw_liu", dir)
      Seq(li, ord, liU).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      import org.apache.hadoop.fs.Path
      val fs = new Path(base).getFileSystem(s.sessionState.newHadoopConf())
      Seq("_ctw_li", "_ctw_ord", "_ctw_liu").foreach(sfx =>
        fs.delete(new Path(base + sfx), true))
      // r17 OPT (guide §2.6): the three CTAS writes target disjoint
      // tables/directories and share no state — submitting them from a
      // small thread pool overlaps each sorted-bucketed write's 8-task
      // tail with the next write's scan instead of paying the three
      // tails sequentially. Statement semantics are unchanged (each
      // still routes through prestoStatement; property validation and
      // the written layouts are per-table).
      graft.Exec.overlap(3)(Seq(
        s"""
        CREATE TABLE $li WITH (
          format = 'PARQUET', external_location = '${base}_ctw_li',
          bucketed_by = ARRAY['l_orderkey'], bucket_count = 8,
          sorted_by = ARRAY['l_orderkey'])
        AS SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem""",
        s"""
        CREATE TABLE $ord WITH (
          format = 'PARQUET', external_location = '${base}_ctw_ord',
          bucketed_by = ARRAY['o_orderkey'], bucket_count = 8,
          sorted_by = ARRAY['o_orderkey'])
        AS SELECT o_orderkey, o_orderstatus FROM orders""",
        // the unsorted control is only ever PLANNED (never
        // executed), so a slim slice keeps the gate's write cost
        // on the real layouts
        s"""
        CREATE TABLE $liU WITH (
          format = 'PARQUET', external_location = '${base}_ctw_liu',
          bucketed_by = ARRAY['l_orderkey'], bucket_count = 8)
        AS SELECT l_orderkey, l_returnflag FROM lineitem
           WHERE l_orderkey <= 1000""").map(sql =>
        () => prestoStatement(s, sql)))
      // one file per bucket: the HiveWriterFactory contract, and the
      // precondition for Spark exposing the per-bucket sort order
      val nFiles = fs.listStatus(new Path(base + "_ctw_li"))
        .count(_.getPath.getName.startsWith("part-"))
      // files internally sorted: distributed per-file monotonicity
      // (scan partitions concatenate whole files; reset at boundaries)
      val filesSorted = s.table(li)
        .select(col("l_orderkey"), col("_metadata.file_path"))
        .as[(Long, String)]
        .mapPartitions { it =>
          var ok = true; var pf: String = null; var pk = Long.MinValue
          it.foreach { case (k, fp) =>
            if (fp != pf) { pf = fp; pk = Long.MinValue }
            if (k < pk) ok = false
            pk = k
          }
          Iterator.single(ok)
        }.reduce(_ && _)
      def joinPlan(left: String): (DataFrame, String) = {
        val j = s.table(left).hint("merge")
          .join(s.table(ord).hint("merge"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_returnflag"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity")).cast("long").as("qty"))
        (j, j.queryExecution.executedPlan.toString)
      }
      def sorts(plan: String): Int =
        """(?m)\bSort \[""".r.findAllIn(plan).size
      val confKey = "spark.sql.legacy.bucketedTableScan.outputOrdering"
      val prior = s.conf.get(confKey, "false")
      val (rows, sortFree, sortsReappear) =
        try {
          s.conf.set(confKey, "true")
          val (j, plan) = joinPlan(li)
          val out = j.collect().map(r => (r.getString(0), r.getString(1),
            r.getLong(2), r.getLong(3)))
          val free = plan.contains("SortMergeJoin") && sorts(plan) == 0
          // negative control, asymmetric by design: joining the
          // UNSORTED bucketed layout against the sorted one re-plans
          // exactly ONE Sort — the unsorted side pays it, the sorted
          // side still doesn't — proving the sort-free assertion
          // discriminates per layout, not per conf
          val planU = s.table(liU).hint("merge")
            .join(s.table(ord).hint("merge"),
              col("l_orderkey") === col("o_orderkey"))
            .groupBy(col("l_returnflag"))
            .agg(count(lit(1)).as("n"))
            .queryExecution.executedPlan.toString
          (out, free, sorts(planU) == 1)
        } finally s.conf.set(confKey, prior)
      // the reference's own rejection text for a sorted unbucketed spec
      val loudSorted = scala.util.Try(prestoStatement(s,
        "CREATE TABLE graft_ctw_reject WITH (sorted_by = ARRAY['x']) " +
          "AS SELECT 1 AS x")).failed.toOption.exists(_.getMessage
        .contains("sorted_by may be specified only when bucketed_by is specified"))
      val kv = rows.toSeq.flatMap { case (f, st, n, qty) =>
        Seq((s"n_${f}_$st", n.toString), (s"qty_${f}_$st", qty.toString))
      } ++ Seq(
        ("x_files_sorted", filesSorted.toString),
        ("x_one_file_per_bucket", (nFiles == 8).toString),
        ("x_sort_free_join", sortFree.toString),
        ("x_sorted_requires_bucketed", loudSorted.toString),
        ("x_unsorted_side_resorts", sortsReappear.toString))
      kv.toDF("k", "v").orderBy(col("k"))
    }),

    // system.metadata.{table,schema,column,analyze}_properties — the
    // property-registry system tables (AbstractPropertiesSystemTable
    // .java:35-41,78-92), rendered per the reference (catalog_name/
    // property_name/default_value/type/description, sorted, null
    // defaults as ""). The rows are the engine's LIVE registries: the
    // table listing is exactly what CREATE TABLE ... WITH (...)
    // accepts (TablePropertiesSuite locks the tie behaviorally), and
    // hive's empty column-property registry answers as an empty
    // relation, not a missing table.
    "q3m_property_listings" -> ((s, dir) => {
      Tables.register(s, dir)
      graft.functions.Registry.install(s)
      graft.functions.Registry.prestoStatement(s,
        """SELECT k, v FROM (
          |  SELECT 'tp_' || property_name AS k,
          |         type || '|' || default_value AS v
          |  FROM system.metadata.table_properties
          |  UNION ALL
          |  SELECT 'sp_' || property_name, type || '|' || default_value
          |  FROM system.metadata.schema_properties
          |  UNION ALL
          |  SELECT 'ap_' || property_name, type || '|' || default_value
          |  FROM system.metadata.analyze_properties
          |  UNION ALL
          |  SELECT 'x_column_props', CAST(count(*) AS VARCHAR)
          |  FROM system.metadata.column_properties)
          |ORDER BY k""".stripMargin)
    }),

    // ANALYZE ... WITH (partitions = ARRAY[ARRAY[...]]) — the hive
    // connector's partition-scoped statistics collection
    // (HiveAnalyzeProperties.java:44-53 decode rules;
    // HiveMetadata.java:394-403 unpartitioned rejection;
    // HivePartitionManager:295-299 every listed partition must
    // exist). The listed partitions get catalog stats whose row
    // counts replay against DuckDB counting the same years — the
    // stats are DATA facts, not just booleans — and the unlisted
    // partition stays stat-free (the scoping proof). At 100 TB this
    // is incremental stats maintenance: analyze yesterday's
    // partition, never re-scan the table.
    "q3n_analyze_partitions" -> ((s, dir) => {
      import s.implicits._
      Tables.register(s, dir)
      graft.functions.Registry.install(s)
      import graft.functions.Registry.prestoStatement
      val pt = tbl("anp", dir)
      s.sql(s"DROP TABLE IF EXISTS $pt")
      t(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
        .filter(col("o_year").isin(1995, 1996, 1997))
        .repartition(3, col("o_year"))
        .write.mode("overwrite")
        .option("path", Storage.ctasPath(s, dir) + "_anp")
        .partitionBy("o_year").saveAsTable(pt)
      prestoStatement(s,
        s"ANALYZE $pt WITH (partitions = ARRAY[ARRAY['1995'], ARRAY['1996']])")
      val stats = s.sessionState.catalog.listPartitions(
        org.apache.spark.sql.catalyst.TableIdentifier(pt))
        .map(p => p.spec("o_year") ->
          p.stats.flatMap(_.rowCount).map(_.toLong))
        .toMap
      def loud(sql: String, want: String): Boolean =
        scala.util.Try(prestoStatement(s, sql)).failed.toOption
          .exists(_.getMessage.contains(want))
      val rows =
        Seq("1995", "1996").map(y =>
          (s"stats_$y", stats(y).map(_.toString).getOrElse("absent"))) ++
        Seq(
          ("x_mismatch_loud", loud(
            s"ANALYZE $pt WITH (partitions = ARRAY[ARRAY['1995','x']])",
            "does not match partition column count").toString),
          ("x_nonexistent_loud", scala.util.Try(prestoStatement(s,
            s"ANALYZE $pt WITH (partitions = ARRAY[ARRAY['2099']])"))
            .isFailure.toString),
          ("x_null_loud", loud(
            s"ANALYZE $pt WITH (partitions = ARRAY[NULL])",
            "Invalid null value in analyze partitions property").toString),
          ("x_unanalyzed_1997", stats("1997").isEmpty.toString),
          ("x_unpartitioned_loud", loud(
            "ANALYZE nation WITH (partitions = ARRAY[ARRAY['1']])",
            "Only partitioned table can be analyzed with a partition list")
            .toString))
      rows.toDF("k", "v").orderBy(col("k"))
    }),

    // Metadata-only aggregation over partition keys (reference:
    // `presto-main/.../optimizations/MetadataQueryOptimizer.java:66` —
    // min/max/approx_distinct/DISTINCT over partition columns answer
    // from the metastore's partition listing, zero data reads). Spark
    // ships the same rewrite as OptimizeMetadataOnlyQuery behind
    // `spark.sql.optimizer.metadataOnly` (off by default upstream
    // because empty partition DIRECTORIES would over-report — this
    // gate's layout writes every partition through the engine, so the
    // precondition holds and is locked by the equality arm). Booleans:
    // the optimized plan reads NO file source (LocalRelation from the
    // catalog listing), and both paths agree value-for-value with the
    // conf off. At 100 TB this answers "what days do we have?" from
    // the metastore instead of listing a million files.
    "q3o_metadata_only_agg" -> ((s, dir) => {
      import s.implicits._
      Tables.register(s, dir)
      val pt = tbl("moq", dir)
      s.sql(s"DROP TABLE IF EXISTS $pt")
      t(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
        .repartition(4, col("o_year"))
        .write.mode("overwrite")
        .option("path", Storage.ctasPath(s, dir) + "_moq")
        .partitionBy("o_year").saveAsTable(pt)
      val q = s"""SELECT min(o_year) AS y_min, max(o_year) AS y_max,
        count(DISTINCT o_year) AS y_cnt FROM $pt"""
      val key = "spark.sql.optimizer.metadataOnly"
      val prior = s.conf.get(key, "false")
      val (metaRow, metaPlanClean) =
        try {
          s.conf.set(key, "true")
          val df = s.sql(q)
          val plan = df.queryExecution.optimizedPlan.toString
          (df.collect()(0),
            !plan.contains("Relation") || plan.contains("LocalRelation"))
        } finally s.conf.set(key, prior)
      val dataRow = s.sql(q).collect()(0)
      Seq(
        ("x_metadata_plan_local", metaPlanClean.toString),
        ("x_paths_agree", (metaRow == dataRow).toString),
        ("y_cnt", metaRow.getLong(2).toString),
        ("y_max", metaRow.getInt(1).toString),
        ("y_min", metaRow.getInt(0).toString))
        .toDF("k", "v").orderBy(col("k"))
    })
  )

  override def oracles: Map[String, String] = Map(
    "q3e_hidden_columns" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_returnflag FROM lineitem
        |  WHERE l_quantity >= 45)
        |SELECT k, v FROM (
        |  SELECT 'rows_' || l_returnflag AS k,
        |    CAST(count(*) AS VARCHAR) AS v FROM base GROUP BY 1
        |  UNION ALL
        |  SELECT 'files_' || l_returnflag, '1' FROM base GROUP BY 1
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    ('x_bucket_count', '4'),
        |    ('x_dirs_match', 'true'),
        |    ('x_key_single_bucket', 'true'),
        |    ('x_size_positive', 'true')) t(k, v))
        |ORDER BY k""".stripMargin,

    "q3f_partitions_system_table" ->
      """SELECT k, v FROM (
        |  SELECT DISTINCT 'part_' || CAST(year(o_orderdate) AS VARCHAR)
        |      AS k, 'listed' AS v
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996, 1997)
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    ('x_metadata_only', 'true'),
        |    ('x_nonpartitioned_rejected', 'true'),
        |    ('x_one_props_row', 'true'),
        |    ('x_props_cols_sorted', 'true'),
        |    ('x_props_values', 'true'),
        |    ('x_typed_int', 'true')) t(k, v))
        |ORDER BY k""".stripMargin,

    // year_1995 untouched; year_1996 = base + its even keys (APPEND);
    // year_1997 = only its even keys (OVERWRITE); year_1998 = the
    // full 1998 slice (ERROR admits brand-new partitions)
    "q3g_insert_existing_partitions" ->
      """WITH y AS (SELECT o_orderkey, year(o_orderdate) AS o_year
        |           FROM orders)
        |SELECT k, v FROM (
        |  SELECT 'year_' || CAST(o_year AS VARCHAR) AS k,
        |    CAST(count(*) FILTER (WHERE o_year = 1995)
        |      + count(*) FILTER (WHERE o_year = 1996)
        |      + count(*) FILTER (WHERE o_year = 1996
        |                           AND o_orderkey % 2 = 0)
        |      + count(*) FILTER (WHERE o_year = 1997
        |                           AND o_orderkey % 2 = 0)
        |      + count(*) FILTER (WHERE o_year = 1998) AS VARCHAR) AS v
        |  FROM y WHERE o_year BETWEEN 1995 AND 1998 GROUP BY o_year
        |  UNION ALL
        |  SELECT 'x_error_refused', 'true')
        |ORDER BY k""".stripMargin,

    "q3h_create_empty_partition" ->
      """SELECT k, v FROM (
        |  SELECT DISTINCT 'part_' || CAST(year(o_orderdate) AS VARCHAR)
        |      AS k, 'listed' AS v
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    ('part_2099', 'listed'),
        |    ('x_duplicate_rejected', 'true'),
        |    ('x_empty_scan_rows', '0'),
        |    ('x_mismatch_rejected', 'true')) t(k, v))
        |ORDER BY k""".stripMargin,

    // after the three deletes: 1996 dropped whole (metadata), 1997
    // keeps its odd keys (scoped rewrite), 1995 emptied and dropped,
    // 1998 untouched
    "q3k_metadata_delete" ->
      """WITH y AS (SELECT o_orderkey, year(o_orderdate) AS o_year
        |           FROM orders)
        |SELECT k, v FROM (
        |  SELECT 'year_' || CAST(o_year AS VARCHAR) AS k,
        |    CAST(count(*) AS VARCHAR) AS v
        |  FROM y
        |  WHERE (o_year = 1997 AND o_orderkey % 2 = 1) OR o_year = 1998
        |  GROUP BY o_year
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    ('x_empty_partition_dropped', 'true'),
        |    ('x_meta_dropped', '1'),
        |    ('x_meta_files_untouched', 'true'),
        |    ('x_meta_scan_zero', 'true'),
        |    ('x_scoped_files_untouched', 'true')) t(k, v))
        |ORDER BY k""".stripMargin,

    "q3l_sorted_table_properties" ->
      """WITH j AS (
        |  SELECT l.l_returnflag AS f, o.o_orderstatus AS st,
        |         l.l_quantity AS q
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT k, v FROM (
        |  SELECT 'n_' || f || '_' || st AS k,
        |    CAST(count(*) AS VARCHAR) AS v FROM j GROUP BY f, st
        |  UNION ALL
        |  SELECT 'qty_' || f || '_' || st,
        |    CAST(CAST(sum(q) AS BIGINT) AS VARCHAR) FROM j GROUP BY f, st
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    ('x_files_sorted', 'true'),
        |    ('x_one_file_per_bucket', 'true'),
        |    ('x_sort_free_join', 'true'),
        |    ('x_sorted_requires_bucketed', 'true'),
        |    ('x_unsorted_side_resorts', 'true')) t(k, v))
        |ORDER BY k""".stripMargin,

    // the reference's fixed registries ARE the contract — literal replay
    "q3m_property_listings" ->
      """SELECT k, v FROM (VALUES
        |  ('ap_partitions', 'array(array(varchar))|'),
        |  ('sp_location', 'varchar|'),
        |  ('tp_avro_schema_url', 'varchar|'),
        |  ('tp_bucket_count', 'integer|0'),
        |  ('tp_bucketed_by', 'array(varchar)|[]'),
        |  ('tp_external_location', 'varchar|'),
        |  ('tp_format', 'varchar|ORC'),
        |  ('tp_orc_bloom_filter_columns', 'array(varchar)|[]'),
        |  ('tp_orc_bloom_filter_fpp', 'double|0.05'),
        |  ('tp_partitioned_by', 'array(varchar)|[]'),
        |  ('tp_preferred_ordering_columns', 'array(varchar)|[]'),
        |  ('tp_sorted_by', 'array(varchar)|[]'),
        |  ('x_column_props', '0')) t(k, v)
        |ORDER BY k""".stripMargin,

    // catalog stats row counts for the two analyzed partitions are
    // DATA facts — DuckDB counts the same years from the raw table
    "q3n_analyze_partitions" ->
      """SELECT k, v FROM (
        |  SELECT 'stats_' || CAST(year(o_orderdate) AS VARCHAR) AS k,
        |    CAST(count(*) AS VARCHAR) AS v
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
        |  GROUP BY year(o_orderdate)
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    ('x_mismatch_loud', 'true'),
        |    ('x_nonexistent_loud', 'true'),
        |    ('x_null_loud', 'true'),
        |    ('x_unanalyzed_1997', 'true'),
        |    ('x_unpartitioned_loud', 'true')) t(k, v))
        |ORDER BY k""".stripMargin,

    "q3o_metadata_only_agg" ->
      """SELECT k, v FROM (
        |  SELECT 'y_min' AS k,
        |    CAST(min(year(o_orderdate)) AS VARCHAR) AS v FROM orders
        |  UNION ALL
        |  SELECT 'y_max', CAST(max(year(o_orderdate)) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'y_cnt',
        |    CAST(count(DISTINCT year(o_orderdate)) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    ('x_metadata_plan_local', 'true'),
        |    ('x_paths_agree', 'true')) t(k, v))
        |ORDER BY k""".stripMargin
  )
}
