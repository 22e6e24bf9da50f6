package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.types.StructType

/** Spark-native analogue of the reference's warehouse client + api surface.
  *
  * The reference loads warehouse tables with optional column projection,
  * row filter, and sampling (fugue_bigquery/api.py:30 `load_table`), runs
  * arbitrary SQL (fugue_bigquery/api.py:113 `load_sql`), inspects schemas
  * (fugue_bigquery/api.py:15 `get_schema`), writes tables back
  * (fugue_trino/execution_engine.py:90 `save_table`), checks existence
  * (fugue_trino/execution_engine.py:85 `table_exists`) and round-trips
  * files in multiple formats (fugue_trino/execution_engine.py:190-210
  * `load_df`/`save_df` with a format hint).
  *
  * Here the "warehouse" is parquet on distributed storage read through
  * Spark's vectorized scan: `columns` becomes column pruning and `rowFilter`
  * becomes a pushed predicate, both of which reach the parquet reader
  * (equivalent to the BigQuery Storage API's selected_fields/row_restriction
  * — verified in WarehouseSpec via the executed plan). All path existence
  * checks go through the Hadoop FileSystem API so the same code works on
  * file://, hdfs:// and s3a:// — the storage layers a 100 TB deployment
  * actually lives on.
  */
final class Warehouse(val spark: SparkSession, val baseDir: String) {

  val tableNames: Seq[String] = Warehouse.knownTables

  /** Qualified names resolve to subdirectories: "sales.nation" →
    * baseDir/sales/nation.parquet (any depth — "cat.sch.t" nests two
    * levels), mirroring the reference's catalog.schema.table resolution
    * (fugue_trino/collections.py:10-49, fugue_bigquery table_to_full_name).
    */
  private def path(table: String): String = Warehouse.tablePath(baseDir, table)

  /** Hadoop-FS existence check (works on any supported scheme, not just
    * local disk — java.io.File would silently break on hdfs:// / s3a://).
    */
  private def fsExists(p: String): Boolean = {
    val hp = new HPath(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(hp)
  }

  /** load_table with pushdown: columns → ReadSchema prune, rowFilter →
    * PushedFilters, sample → Bernoulli sample (post-scan, like TABLESAMPLE).
    */
  def loadTable(
      table: String,
      columns: Seq[String] = Nil,
      rowFilter: Option[String] = None,
      sample: Double = 1.0,
      seed: Long = 42L,
      mergeSchema: Boolean = false
  ): DataFrame = {
    // A versioned table (saveTableVersioned) resolves to its LATEST
    // version directory; plain tables read their path directly.
    val p = Warehouse.latestVersionDir(spark, path(table)).getOrElse(path(table))
    var df = normalizedRead(p, mergeSchema)
    rowFilter.foreach(f => df = df.filter(f))
    if (columns.nonEmpty) df = df.select(columns.map(df.col): _*)
    if (sample < 1.0) df = df.sample(withReplacement = false, sample, seed)
    df
  }

  /** SCHEMA EVOLUTION append: add `df` to an existing table whose schema
    * may differ by ADDED (or absent) columns — the BigQuery
    * schema-relaxation / Snowflake ALTER ADD COLUMN path, kept
    * warehouse-shaped: evolution means widening by nullable columns, so
    * an append whose columns are neither a superset nor a subset of the
    * stored schema (or that RETYPES an existing column) is refused
    * rather than silently forked (parquet would happily write it; every
    * later merged read would then fail or coerce). Reading an evolved
    * table needs `loadTable(..., mergeSchema = true)` — footer-union
    * schema, files missing a column yield NULLs (exactly the warehouse
    * semantics for rows predating an added column). mergeSchema stays
    * opt-in on the read: it reads EVERY file's footer, a real cost on
    * 100k-file tables, and non-evolved tables shouldn't pay it.
    */
  def appendTable(df: DataFrame, outDir: String, table: String): Unit = {
    val p = Warehouse.tablePath(outDir, table)
    // a VERSIONED table (saveTableVersioned) resolves every read to its
    // latest version directory — parquet files appended to the BASE path
    // would be invisible to loadTable forever (silent data loss). Refuse
    // loudly, mirroring vacuumTable's is-versioned check.
    require(Warehouse.latestVersionDir(spark, p).isEmpty,
      s"appendTable: $table is versioned (saveTableVersioned) — appends to " +
        "the base path are invisible to versioned reads; write a new " +
        "version with saveTableVersioned instead")
    val union: org.apache.spark.sql.types.StructType =
      if (fsExists(p)) {
        // cached union schema — incrementally maintained below, so N
        // appends cost ONE real footer-union read, not N (O(N²) files)
        val existing = Warehouse.mergedSchemaOf(spark, p)
        val exNames = existing.fieldNames.toSet
        val dfNames = df.schema.fieldNames.toSet
        require(exNames.subsetOf(dfNames) || dfNames.subsetOf(exNames),
          s"appendTable: schema of $table can only evolve by adding columns " +
            s"(stored: ${exNames.toSeq.sorted.mkString(",")}; " +
            s"append: ${dfNames.toSeq.sorted.mkString(",")})")
        val retyped = existing.fields
          .filter(f => df.schema.fieldNames.contains(f.name))
          .filter(f => df.schema(f.name).dataType != f.dataType)
        require(retyped.isEmpty,
          s"appendTable: column retype refused: ${retyped.map(_.name).mkString(",")}")
        org.apache.spark.sql.types.StructType(
          existing.fields ++ df.schema.fields.filterNot(
            f => exNames.contains(f.name)))
      } else df.schema
    df.write.mode("append").parquet(p)
    Warehouse.invalidate(outDir, table)
    // prime the union cache at the new epoch — evolution only widens, so
    // the in-memory union is exactly what a footer re-scan would derive
    Warehouse.recordMergedSchema(p, union)
  }

  /** Streaming read of a warehouse table: the same parquet layout
    * [[loadTable]] reads, consumed incrementally by Structured Streaming's
    * file source (new part files / new hive partitions picked up per
    * trigger), with the SAME load-boundary normalizations — nanos
    * timestamps, NTZ→LTZ, vector element type — so batch and streaming
    * consumers see one schema contract. `maxFilesPerTrigger` bounds
    * per-micro-batch ingest volume (0 = all available).
    */
  def loadTableStream(table: String, maxFilesPerTrigger: Int = 0): DataFrame = {
    // a versioned table streams from its LATEST committed version dir
    // (new part files appear only via a new version — re-start to pick
    // up; the plain-table path tails new files/partitions live)
    val tablePath =
      Warehouse.latestVersionDir(spark, path(table)).getOrElse(path(table))
    val footer = Warehouse.footerSchema(spark, tablePath)
    // the stream needs partition columns in its schema: take them from a
    // driver-side batch relation over the footer schema (no job)
    val schema = spark.read.schema(footer.schema).parquet(tablePath).schema
    val hp = new HPath(tablePath)
    val isDir = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(hp).isDirectory
    var reader = spark.readStream.schema(schema)
    if (maxFilesPerTrigger > 0)
      reader = reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    // The file-stream source wants a directory; a single-file table
    // streams via its parent dir + a leaf glob (pathGlobFilter matches
    // leaf files, not directories).
    val raw =
      if (isDir) reader.parquet(tablePath)
      else reader.option("pathGlobFilter", hp.getName).parquet(hp.getParent.toString)
    normalized(raw, footer.nanosCols)
  }

  /** Register every known table as a temp view and run arbitrary SQL —
    * the Spark-native `load_sql` / Fugue `select` (SQL over named frames).
    */
  def loadSql(query: String): DataFrame = {
    registerAll()
    spark.sql(query)
  }

  /** Register all known tables for SQL access. Temp views are
    * SESSION-GLOBAL by name, so ownership is tracked per (session, table):
    * a view is valid for this warehouse only if its recorded owner dir is
    * this baseDir — a second Warehouse on the same session re-registers
    * views over ITS dir instead of silently reading the other warehouse's
    * rows. `saveTable` (and any invalidate) bumps the dir's epoch and
    * clears ownership, so a view never serves a frozen file index of
    * replaced files. Deliberately lock-free: createOrReplaceTempView is
    * idempotent and ownership is only recorded when the epoch is unchanged
    * across the registration (so an in-flight registration that raced a
    * write re-registers on the next call instead of caching staleness).
    * Existence of absent tables is re-checked every call (cheap FS
    * metadata op), so a table written after the first loadSql still
    * becomes visible.
    *
    * Trade-off: two warehouses ALTERNATING loadSql on one session
    * re-register each other's views every switch (correctness first —
    * each caller always reads its own dir). Steady concurrent
    * multi-warehouse use should go through [[registerNamespace]], whose
    * qualified names don't contend.
    */
  def registerAll(): Unit = {
    val sessionId = System.identityHashCode(spark)
    // fast path: every present table already owned by this dir — no FS calls
    if (tableNames.forall(t => Warehouse.viewOwner.get((sessionId, t)) == baseDir))
      return
    val epoch = Warehouse.epochOf(baseDir).get()
    tableNames.foreach { t =>
      if (Warehouse.viewOwner.get((sessionId, t)) != baseDir && fsExists(path(t))) {
        loadTable(t).createOrReplaceTempView(t)
        // put-then-validate: record ownership, then drop it if a write
        // bumped the epoch. invalidate() bumps BEFORE clearing owners, so
        // any interleaving where its clear misses this put implies the
        // bump is visible to the re-check below — staleness can never be
        // cached (a benign extra re-registration can).
        Warehouse.viewOwner.put((sessionId, t), baseDir)
        if (Warehouse.epochOf(baseDir).get() != epoch)
          Warehouse.viewOwner.remove((sessionId, t), baseDir)
      }
    }
  }

  /** Unified load: dispatches a SELECT/WITH query to [[loadSql]] and a
    * bare table name to [[loadTable]] — the reference's `api.load`
    * (fugue_trino/api.py) fronted by its is_select_query test
    * (fugue_bigquery/_utils.py, tests/fugue_bigquery/test_utils.py).
    */
  def load(tableOrQuery: String): DataFrame =
    if (Warehouse.isSelectQuery(tableOrQuery)) loadSql(tableOrQuery)
    else loadTable(tableOrQuery)

  /** The schema [[loadTable]] returns — normalized, and for a versioned
    * table that of its latest committed version. Runs no Spark job. */
  def getSchema(table: String): StructType = loadTable(table).schema

  /** describe: compiled plan + output schema, mirroring
    * fugue_trino/api.py:14 `describe` (SQL + schema dump).
    */
  def describe(df: DataFrame): String = {
    val plan = df.queryExecution.optimizedPlan.toString
    s"$plan\nOutput Schema: ${df.schema.simpleString}"
  }

  /** save_table with overwrite/append, like the reference's
    * `df_to_table(..., overwrite=mode=="overwrite")`. The reference errors
    * when the table exists and mode is not overwrite/append
    * (fugue_trino/execution_engine.py:89-97); "error" mode delegates that
    * to Spark's ErrorIfExists.
    *
    * `partitionBy` writes hive-style partition directories — the analogue
    * of warehouse table partitioning, and the #1 scan reducer at scale:
    * a filter on a partition column prunes whole directories before any
    * file is opened (PartitionFilters in the plan, asserted in
    * WarehouseSpec).
    */
  def saveTable(df: DataFrame, outDir: String, table: String, mode: String = "overwrite",
      partitionBy: Seq[String] = Nil): Unit = {
    var w = df.write.mode(mode)
    if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
    w.parquet(Warehouse.tablePath(outDir, table))
    // A temp view registered before this write holds a frozen parquet file
    // index — it would serve stale rows (or FileNotFoundException after an
    // overwrite) forever. Evict the table from every session's cache for
    // this dir so the next registerAll/loadSql rebuilds the view.
    Warehouse.invalidate(outDir, table)
    // Namespaced catalog tables (registerNamespace) cache their file index
    // AND their ANALYZE statistics — after a data rewrite both are stale,
    // so DROP+CREATE re-points the entry and discards the now-invalid
    // stats (re-run analyzeTable afterwards if CBO is in use). A plain
    // refresh would keep old row counts attached to new data, the
    // mis-sizing failure mode analyzeTable's doc warns about. (Other
    // sessions' catalogs refresh on their own registerNamespace.)
    val parts = table.split("\\.", -1)
    if (parts.length == 2) {
      val qualified = s"`${parts(0)}`.`${parts(1)}`"
      try {
        if (spark.catalog.tableExists(qualified)) {
          spark.sql(s"DROP TABLE IF EXISTS $qualified")
          spark.sql(s"CREATE TABLE $qualified USING parquet " +
            s"LOCATION '${Warehouse.tablePath(outDir, table)}'")
        }
      } catch { case _: Exception => () } // no catalog entry — nothing to do
    }
  }

  def tableExists(dir: String, table: String): Boolean =
    fsExists(Warehouse.tablePath(dir, table))

  /** TIME TRAVEL — versioned table write. Every call appends an immutable
    * version directory `_graft_v=NNNNN` under the table path (the
    * Spark-native form of Snowflake/BigQuery time travel: AT(version) /
    * FOR SYSTEM_TIME AS OF). The underscore prefix hides version dirs
    * from plain `spark.read.parquet(tablePath)` listings, and a version
    * COUNTS only once its `_SUCCESS` marker lands — Spark's own write
    * commit is the manifest, so a crashed write can never become
    * "latest". [[loadTable]] resolves versioned tables to the newest
    * committed version; [[loadTableVersion]]/[[loadTableAsOf]] read
    * history. No data is ever rewritten or duplicated: storage cost is
    * one copy per version, exactly the deltas-as-full-snapshots model
    * (retention pruning = deleting old version dirs).
    *
    * Returns the new version number. Concurrent writers race on the same
    * next number and the loser fails (errorifexists) — first-wins, no
    * torn state.
    */
  def saveTableVersioned(df: DataFrame, outDir: String, table: String): Long = {
    val base = Warehouse.tablePath(outDir, table)
    val next = Warehouse.committedVersions(spark, base).lastOption.getOrElse(0L) + 1
    df.write.mode("errorifexists").parquet(Warehouse.versionDir(base, next))
    Warehouse.invalidate(outDir, table)
    next
  }

  /** RESTORE a versioned table to an earlier version — the Delta/iceberg
    * RESTORE model: never a rollback-by-delete, but a NEW version whose
    * content is the old snapshot, so history stays intact (the bad
    * versions remain readable for forensics until [[vacuumTable]]
    * retention drops them) and every reader's "latest" flips atomically
    * with the new version's `_SUCCESS` commit. Restoring the current
    * version is allowed (an explicit re-commit). Returns the NEW version
    * number.
    */
  def restoreTableVersion(outDir: String, table: String, version: Long): Long =
    saveTableVersioned(loadTableVersion(table, version), outDir, table)

  /** Committed versions of a versioned table, oldest first (empty for a
    * plain table).
    */
  def listVersions(table: String): Seq[Long] =
    Warehouse.committedVersions(spark, path(table))

  /** Read one specific committed version of a versioned table, with the
    * same load-boundary normalizations as [[loadTable]].
    */
  def loadTableVersion(table: String, version: Long): DataFrame = {
    val vd = Warehouse.versionDir(path(table), version)
    require(Warehouse.committedVersions(spark, path(table)).contains(version),
      s"table $table has no committed version $version")
    normalizedRead(vd)
  }

  /** Read the newest version committed at or before `tsMillis` (epoch
    * millis) — FOR SYSTEM_TIME AS OF. Commit times are the version
    * directories' filesystem commit timestamps.
    */
  def loadTableAsOf(table: String, tsMillis: Long): DataFrame = {
    val base = path(table)
    val vs = Warehouse.committedVersionTimes(spark, base)
    require(vs.nonEmpty, s"table $table is not versioned")
    val eligible = vs.filter(_._2 <= tsMillis)
    require(eligible.nonEmpty,
      s"no version of $table existed at $tsMillis (earliest: ${vs.head._2})")
    normalizedRead(Warehouse.versionDir(base, eligible.last._1))
  }

  /** Batch read of the parquet at `p` through [[normalized]]. */
  private def normalizedRead(p: String, mergeSchema: Boolean = false): DataFrame = {
    val footer = Warehouse.footerSchema(spark, p)
    val df =
      if (mergeSchema) spark.read.option("mergeSchema", "true").parquet(p)
      else spark.read.schema(footer.schema).parquet(p)
    normalized(df, footer.nanosCols)
  }

  /** THE load-boundary normalization chain — every read path (loadTable,
    * version/as-of reads, loadTableStream) goes through here so the
    * three accreted generator-drift defenses can never diverge between
    * paths: TIMESTAMP(NANOS)-as-long → microsecond timestamps;
    * TIMESTAMP_NTZ → LTZ (unix_micros, watermarks and Timestamp encoders
    * reject NTZ); array<double> vectors → the engine's array<float>
    * contract. `nanosCols` are the footer's TIMESTAMP(NANOS) columns.
    */
  private def normalized(df: DataFrame, nanosCols: Set[String]): DataFrame =
    Warehouse.normalizeVectors(Warehouse.normalizeNtz(
      Warehouse.normalizeNanos(df, nanosCols)))

  /** COMPACTION — rewrite a table's (or a versioned table's latest
    * version's) small files into ~`targetBytes` files: the OPTIMIZE /
    * auto-clustering maintenance verb. Small-file proliferation is the
    * classic warehouse decay mode (every incremental append adds a file;
    * scan cost becomes per-file overhead, not bytes), and the fix is a
    * periodic rewrite sized by max(1, ceil(totalBytes / targetBytes)).
    *
    * The rewrite is read → repartition(n) → write to a sibling tmp dir,
    * then a RENAME-ASIDE swap (old → __compact_old, tmp → table path,
    * delete old) — nothing is deleted before the new layout is fully in
    * place, so no crash point loses data; the worst crash artifact is a
    * briefly-absent table path with both complete layouts parked in the
    * sibling dirs (details at the swap site). A versioned table's
    * commit timestamp (_SUCCESS mtime) is preserved across the rewrite
    * so as-of reads keep resolving to the same version. A
    * SINGLE-WRITER maintenance op: concurrent readers that already
    * listed the old files can hit vanished-file errors during the swap
    * (the same window every file-listing-based engine has without a
    * transaction log). Content is byte-preserved, only layout changes.
    * Hive-partitioned layouts are refused rather than silently
    * flattened. Returns the new file count.
    */
  def compactTable(dir: String, table: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val base = Warehouse.tablePath(dir, table)
    val p = Warehouse.latestVersionDir(spark, base).getOrElse(base)
    val hp = new HPath(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.getFileStatus(hp).isDirectory,
      s"compactTable needs a directory table, got single file $p")
    val entries = fs.listStatus(hp).toSeq
      .filterNot(s => s.getPath.getName.startsWith("_") ||
        s.getPath.getName.startsWith("."))
    require(entries.forall(_.isFile),
      s"refusing to compact hive-partitioned layout under $p — " +
        "compact each partition directory instead")
    val total = entries.map(_.getLen).sum
    val n = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    // a plain table's files may differ by the columns appendTable added:
    // read (and so write) the union of every footer. A version dir is
    // one write, so its first footer is its schema.
    val union = if (p == base) Some(Warehouse.mergedSchemaOf(spark, p)) else None
    val df = union.fold(Warehouse.readStored(spark, p))(spark.read.schema(_).parquet(p))
    val tmp = new HPath(p + "__compact_tmp")
    df.repartition(n).write.mode("overwrite").parquet(tmp.toString)
    // For a VERSIONED table the commit timestamp IS the _SUCCESS marker's
    // mtime (loadTableAsOf resolves on it) — a rewritten marker would
    // silently shift the version's commit time to compaction time and
    // re-route as-of reads to an older version. Capture and restore it.
    val oldMarker = new HPath(hp, "_SUCCESS")
    val markerTime =
      if (fs.exists(oldMarker)) Some(fs.getFileStatus(oldMarker).getModificationTime)
      else None
    // rename-aside swap: NOTHING is deleted until the new layout is fully
    // in place. Crash before the first rename: old layout intact. Crash
    // between the renames: the path is briefly absent but BOTH complete
    // layouts are parked at __compact_old / __compact_tmp (a rename
    // restores service, nothing lost). Crash after: at worst an orphan
    // __compact_old to sweep.
    val old = new HPath(p + "__compact_old")
    fs.delete(old, true) // orphan from a prior crashed run
    require(fs.rename(hp, old), s"compaction swap failed: rename $hp -> $old")
    require(fs.rename(tmp, hp), s"compaction swap failed: rename $tmp -> $hp")
    markerTime.foreach { t =>
      val m = new HPath(hp, "_SUCCESS")
      if (fs.exists(m)) fs.setTimes(m, t, -1)
    }
    fs.delete(old, true)
    Warehouse.invalidate(dir, table)
    // every rewritten file carries the union: the next append needs no
    // footer scan
    union.foreach(Warehouse.recordMergedSchema(p, _))
    spark.catalog.refreshByPath(p)
    n
  }

  /** RETENTION (VACUUM) for versioned tables: delete every committed
    * version older than the newest `keepLast` — the Snowflake
    * DATA_RETENTION_TIME_IN_DAYS / Delta VACUUM maintenance verb for the
    * [[saveTableVersioned]] snapshots-as-versions model, where retention
    * is literally "delete old version dirs". Returns the versions
    * removed, oldest first.
    *
    * Only COMMITTED versions (landed `_SUCCESS`) are touched: an
    * uncommitted dir is either an in-flight concurrent write (deleting
    * it would race the writer) or a torn crash remnant that
    * [[loadTable]] already refuses to resolve — sweep those explicitly
    * with the writer quiesced, not from retention. The newest version
    * can never be vacuumed (`keepLast >= 1` enforced), so readers of
    * "latest" are never broken; readers of a vacuumed HISTORICAL
    * version fail on their next cold read, the documented retention
    * trade every warehouse makes.
    */
  def vacuumTable(dir: String, table: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val base = Warehouse.tablePath(dir, table)
    val vs = Warehouse.committedVersions(spark, base)
    require(vs.nonEmpty, s"table $table is not versioned — nothing to vacuum")
    deleteVersions(dir, table, Warehouse.dropByCount(vs, keepLast))
  }

  /** Delete the given committed version dirs of `table` and invalidate
    * its registrations — the one delete loop of both vacuum verbs.
    * Returns `drop`. */
  private def deleteVersions(dir: String, table: String, drop: Seq[Long]): Seq[Long] = {
    if (drop.nonEmpty) {
      val base = Warehouse.tablePath(dir, table)
      val hp = new HPath(base)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      drop.foreach { v =>
        fs.delete(new HPath(Warehouse.versionDir(base, v)), true)
      }
      Warehouse.invalidate(dir, table)
    }
    drop
  }

  /** DESCRIBE HISTORY for a versioned table — the Delta `DESCRIBE
    * HISTORY` / Snowflake `SHOW VERSIONS` audit surface the retention
    * and RTBF verbs operate against: one row per COMMITTED version
    * with its commit time (`_SUCCESS` mtime — the [[loadTableAsOf]]
    * clock), data file count and byte total, newest flagged. The
    * operational questions this answers — "what will
    * [[vacuumTableOlderThan]] drop", "which versions does
    * [[forgetAndRewrite]] still have to purge", "how much storage does
    * retention hold" — come BEFORE running those verbs, which is why
    * the listing is a frame, not a log line. Driver-side FS listing
    * (version count is retention-bounded); uncommitted/torn dirs are
    * invisible, matching every reader.
    */
  def describeHistory(dir: String, table: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val base = Warehouse.tablePath(dir, table)
    val vs = Warehouse.committedVersionTimes(spark, base)
    require(vs.nonEmpty, s"table $table is not versioned — no history")
    val hp = new HPath(base)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = vs.map { case (v, t) =>
      val files = fs.listStatus(new HPath(Warehouse.versionDir(base, v)))
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
      (v, t, files.length.toLong, files.map(_.getLen).sum)
    }
    import spark.implicits._
    rows.toDF("version", "commit_millis", "n_files", "total_bytes")
      .withColumn("is_latest",
        col("version") === lit(rows.map(_._1).max))
      .orderBy("version")
  }

  /** DRY-RUN retention plan — [[describeHistory]] plus per-policy drop
    * flags computed with EXACTLY the semantics the executing verbs
    * apply ([[vacuumTable]]'s drop-all-but-newest-keepLast and
    * [[vacuumTableOlderThan]]'s strictly-before-cutoff-sparing-newest),
    * so "what would this policy delete, and how many bytes does it
    * free" is answerable before anything is deleted — and the spec
    * pins plan == action by running the verbs afterwards. `would_drop`
    * is the union (a version goes when ANY active policy drops it).
    * Defaults deactivate each policy (keepLast = MaxValue keeps all;
    * cutoff = MinValue predates everything).
    */
  def retentionPlan(dir: String, table: String,
      keepLast: Int = Int.MaxValue,
      olderThanMillis: Long = Long.MinValue): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val base = Warehouse.tablePath(dir, table)
    val vs = Warehouse.committedVersionTimes(spark, base)
    require(vs.nonEmpty, s"table $table is not versioned — nothing to plan")
    val byCount = Warehouse.dropByCount(vs.map(_._1), keepLast).toSet
    val byAge = Warehouse.dropByAge(vs, olderThanMillis).toSet
    describeHistory(dir, table)
      .withColumn("drop_by_count",
        col("version").isInCollection(
          if (byCount.isEmpty) Set(-1L) else byCount))
      .withColumn("drop_by_age",
        col("version").isInCollection(
          if (byAge.isEmpty) Set(-1L) else byAge))
      .withColumn("would_drop",
        col("drop_by_count") || col("drop_by_age"))
      .orderBy("version")
  }

  /** AGE-BASED RETENTION for versioned tables — the
    * DATA_RETENTION_TIME_IN_DAYS form of [[vacuumTable]]: delete every
    * committed version whose commit time (`_SUCCESS` mtime, the same
    * clock [[loadTableAsOf]] resolves by) is STRICTLY BEFORE
    * `cutoffMillis`, always keeping the newest version regardless of
    * age (readers of "latest" are never broken — the keepLast ≥ 1
    * invariant). Returns the versions removed, oldest first. As-of
    * reads inside the vacuumed window resolve to the oldest surviving
    * version or fail if none existed yet — the documented retention
    * trade, identical to count-based vacuum.
    */
  def vacuumTableOlderThan(dir: String, table: String,
      cutoffMillis: Long): Seq[Long] = {
    val base = Warehouse.tablePath(dir, table)
    val vs = Warehouse.committedVersionTimes(spark, base)
    require(vs.nonEmpty, s"table $table is not versioned — nothing to vacuum")
    deleteVersions(dir, table, Warehouse.dropByAge(vs, cutoffMillis))
  }

  /** RIGHT-TO-BE-FORGOTTEN erasure for VERSIONED tables — the composed
    * verb [[graft.operators.Merge.forgetKeys]] alone cannot be: a bare
    * anti-join + [[saveTableVersioned]] leaves every forgotten row
    * readable through [[loadTableVersion]]/[[loadTableAsOf]] until an
    * unrelated vacuum, and erasure that is one AT(version) away is not
    * erasure (GDPR Art. 17 / CCPA; the reference's warehouse targets
    * make time travel respect deletion after retention — so must we).
    *
    * Sequence, ordered so every crash point leaves a CLEAN latest and a
    * re-run with the same requests is idempotent:
    *  1. erase: anti-join the latest version against the NULL-asserted
    *     distinct request tuples ([[graft.operators.Merge.forgetKeys]]);
    *  2. commit the erased frame as a NEW version (readers of "latest"
    *     flip atomically with its `_SUCCESS`);
    *  3. purge: probe each PRIOR committed version with a semi-join
    *     limit-1 probe and DELETE every version still holding any
    *     requested key (versions that never held one keep their
    *     history — forensics stays intact where harmless);
    *  4. append ONE audit row to the plain companion table
    *     `<table>__forget_audit` (regulators ask for the log, and the
    *     log itself must not be versioned-erased).
    *
    * Scale shape: one anti-join on the key tuple (requests broadcast),
    * one count pass for the audit, and per prior version ONE
    * short-circuit semi-join probe (parquet min/max pushdown on the key
    * columns prunes most files; version count is retention-bounded).
    * Readers holding a purged HISTORICAL version fail on their next
    * cold read — the same documented trade as [[vacuumTable]].
    *
    * Returns the audit row: (table_name, new_version, n_before,
    * n_removed, n_after, n_keys_requested, n_keys_matched,
    * n_versions_purged, n_versions_kept).
    */
  def forgetAndRewrite(outDir: String, table: String, requests: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(keyCols.nonEmpty, "forgetAndRewrite: keyCols must be non-empty")
    val base = Warehouse.tablePath(outDir, table)
    val priorVs = Warehouse.committedVersions(spark, base)
    require(priorVs.nonEmpty,
      s"forgetAndRewrite: $table is not versioned — for a plain table " +
        "forgetKeys + saveTable(mode=overwrite) already erases in place")
    // checkpoint the checked tuples once: the SAME frame gates the
    // erase, the audit counts, and the purge probes — and the NULL
    // assert must fire before any version is touched
    val req = operators.Merge.checkedRequests(requests, keyCols)
      .localCheckpoint(eager = true)
    // read versions under `base` (= outDir), NOT via loadTableVersion:
    // that resolves against this instance's baseDir, and a caller
    // passing a different outDir would erase one table while purging
    // another (the vacuumTable/compactTable dir-parameter convention)
    def readVersion(v: Long): DataFrame =
      normalizedRead(Warehouse.versionDir(base, v))
    val latest = readVersion(priorVs.last)
    val nBefore = latest.count()
    val nMatched = req.join(latest, keyCols, "left_semi").count()
    // no forced broadcast: requests are usually tiny (AQE broadcasts
    // them), but a bulk CCPA batch can be millions of keys — a forced
    // hint would pin it in driver/executor memory
    val erased = latest.join(req, keyCols, "left_anti")
    val newV = saveTableVersioned(erased, outDir, table)
    val nAfter = readVersion(newV).count()
    val hp = new HPath(base)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val purged = priorVs.filter { v =>
      !readVersion(v).join(req, keyCols, "left_semi").isEmpty
    }
    purged.foreach { v =>
      fs.delete(new HPath(Warehouse.versionDir(base, v)), true)
    }
    if (purged.nonEmpty) Warehouse.invalidate(outDir, table)
    val audit = spark.range(1).select(
      lit(table).as("table_name"), lit(newV).as("new_version"),
      lit(nBefore).as("n_before"),
      lit(nBefore - nAfter).as("n_removed"), lit(nAfter).as("n_after"),
      lit(req.count()).as("n_keys_requested"),
      lit(nMatched).as("n_keys_matched"),
      lit(purged.length.toLong).as("n_versions_purged"),
      lit((priorVs.length - purged.length + 1).toLong)
        .as("n_versions_kept"))
    appendTable(audit, outDir, s"${table}__forget_audit")
    audit
  }

  /** Persist by MATERIALIZING to a warehouse table and re-reading it — the
    * reference's persist, which writes a temp TABLE and re-reads it
    * (fugue_trino/execution_engine.py:124-133 df_to_table → query_to_ibis)
    * rather than caching. Unlike cache-only [[Relational.persist]], the
    * returned plan STARTS at a parquet scan: upstream lineage is cut, so
    * an intermediate larger than cluster cache lands on storage instead of
    * thrashing executor memory/disk, survives executor loss without
    * recompute, and downstream stages get scan-level column pruning and
    * predicate pushdown against the materialized files. Routed through
    * [[saveTable]], so view/catalog invalidation applies to the target
    * name. Returns the re-read frame.
    */
  def persistToTable(df: DataFrame, table: String = "", outDir: String = baseDir): DataFrame = {
    val t =
      if (table.nonEmpty) table
      else s"graft_persist_${Warehouse.persistCounter.incrementAndGet()}"
    saveTable(df, outDir, t, mode = "overwrite")
    // direct path read, not loadTable: the table may live outside baseDir,
    // and nanos normalization is keyed to source tables, not intermediates
    Warehouse.readStored(spark, Warehouse.tablePath(outDir, t))
  }

  /** Z-ORDERED table write: cluster rows along a Morton (Z) space-filling
    * curve over `zCols` so parquet row-group/file min-max stats prune
    * MULTI-dimensional predicates — the layout step behind "OPTIMIZE
    * ZORDER BY" in lakehouse engines, for plain parquet. A single-column
    * sort prunes one predicate and scatters the rest; the Z curve keeps
    * every zCol's value range locally narrow in every file, so a query
    * boxing any subset of the columns skips most of the data at scan
    * time. Rows land range-partitioned + sorted by the z-value (a total
    * order — deterministic file contents), written via [[saveTable]]
    * (same view/catalog invalidation).
    *
    * `zCols` must be long-castable (integers, cents, date-days — the
    * exactness contract: quantization is integer floor division, no
    * float rounding anywhere). One extra aggregation pass computes the
    * per-column min/max the quantization normalizes by.
    */
  def saveTableZordered(df: DataFrame, outDir: String, table: String,
      zCols: Seq[String], bits: Int = 16, numFiles: Int = 0): Unit = {
    val z = Warehouse.zOrderValue(df, zCols, bits)
    val parts = if (numFiles > 0) numFiles else df.rdd.getNumPartitions
    val ordered = z
      .repartitionByRange(parts, org.apache.spark.sql.functions.col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")
    saveTable(ordered, outDir, table)
  }

  /** Register every table under `baseDir/<ns>/` as an external parquet
    * table in catalog database `<ns>`, making qualified `ns.table` names
    * usable from loadSql — the Spark-native form of the reference's
    * multi-dataset namespace layer (fugue_trino/collections.py:10-49:
    * TrinoTableSpace; BigQuery datasets). Tables are discovered by FS
    * listing. An already-registered table with unchanged location AND
    * schema gets REFRESH TABLE (fresh file index, ANALYZE statistics
    * preserved — safe because nothing about the table changed); a new
    * table, another warehouse's same-named table, or a schema change
    * gets DROP + CREATE. Data rewrites drop stats at the write site
    * ([[saveTable]]) — re-run [[analyzeTable]] after any rewrite.
    * One namespace level only (Spark's session catalog has 2-part
    * names): deeper-nested tables ("cat.sch.t") remain load/save-only —
    * subdirectories of `baseDir/<ns>/` are deliberately skipped, not
    * silently flattened.
    */
  def registerNamespace(ns: String): Unit = {
    require(ns.matches("[A-Za-z0-9_]+"), s"invalid namespace name: '$ns'")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$ns`")
    val dir = new HPath(s"$baseDir/$ns")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return
    fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (name.endsWith(".parquet")) {
        val t = name.stripSuffix(".parquet")
        val qualified = s"`$ns`.`$t`"
        // REFRESH only when the existing entry points at THIS location
        // with THIS schema — a same-named table registered from another
        // warehouse dir, or a schema change, must re-point (DROP+CREATE);
        // schema/location checks are why REFRESH can safely keep stats.
        val sameTable = spark.catalog.tableExists(qualified) &&
          (try {
            val meta = spark.sessionState.catalog.getTableMetadata(
              org.apache.spark.sql.catalyst.TableIdentifier(t, Some(ns)))
            meta.location == st.getPath.toUri &&
              spark.table(qualified).schema ==
                Warehouse.readStored(spark, st.getPath.toString).schema
          } catch { case _: Exception => false })
        if (sameTable) spark.sql(s"REFRESH TABLE $qualified")
        else {
          spark.sql(s"DROP TABLE IF EXISTS $qualified")
          spark.sql(s"CREATE TABLE $qualified USING parquet LOCATION '${st.getPath}'")
        }
      }
    }
  }

  /** Bucketed catalog table: pre-hash-partitions (and sorts) the data on
    * the join/agg key so every later join or aggregation on that key runs
    * WITHOUT a shuffle — the 100 TB answer to "this fact table is joined on
    * orderkey by every query, why repartition it nightly?". Bucket counts
    * must match across co-joined tables.
    */
  def saveTableBucketed(df: DataFrame, name: String, buckets: Int,
      bucketCols: Seq[String], path: Option[String] = None): Unit = {
    // overwrite semantics even when a previous run left an orphaned
    // location (e.g. a fresh metastore pointed at a reused warehouse dir)
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val loc = path.getOrElse(
      s"${spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/")}/$name")
    val hp = new HPath(loc)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.delete(hp, true)
    var w = df.write.format("parquet").mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
    path.foreach(p => w = w.option("path", p))
    w.saveAsTable(name)
  }

  /** Compute table + column statistics for a catalog-registered table
    * (bucketed or namespaced) so Catalyst's cost-based optimizer has real
    * row counts / NDVs / min-max to size joins with — the warehouse
    * ANALYZE. Pair with `spark.sql.cbo.enabled=true` (left at Spark's
    * default OFF here: on stats-less path views CBO only adds planner
    * overhead — measured ~0.3-1 s/query at sf0.1 — and stale stats
    * mis-size joins, so turning it on is the caller's explicit choice
    * after ANALYZE).
    */
  def analyzeTable(qualifiedName: String, columns: Seq[String] = Nil): Unit = {
    val forCols =
      if (columns.isEmpty) "FOR ALL COLUMNS"
      else s"FOR COLUMNS ${columns.map(c => s"`$c`").mkString(", ")}"
    val name = qualifiedName.split("\\.", -1).map(p => s"`$p`").mkString(".")
    spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS $forCols")
  }

  /** load_df: read a file/directory in the given format (parquet/csv/json/orc),
    * mirroring the reference's format_hint dispatch
    * (fugue_trino/execution_engine.py:190). CSV reads use an explicit schema
    * when given (schema inference is a full extra pass — wrong at scale);
    * json likewise.
    */
  def loadDf(
      path: String,
      format: String = "parquet",
      schema: Option[StructType] = None,
      header: Boolean = true
  ): DataFrame = loadDf(Seq(path), format, schema, header)

  /** Multi-path load_df — the reference accepts `Union[str, List[str]]`
    * (fugue_bigquery/execution_engine.py:199); Spark readers take varargs
    * paths and union the file lists into one scan (one job, not N unions).
    */
  def loadDf(
      paths: Seq[String],
      format: String,
      schema: Option[StructType],
      header: Boolean
  ): DataFrame = {
    require(paths.nonEmpty, "at least one path required")
    var r: DataFrameReader = spark.read
    schema.foreach(s => r = r.schema(s))
    format.toLowerCase match {
      case "parquet" => r.parquet(paths: _*)
      case "csv" =>
        var c = r.option("header", header.toString)
        if (schema.isEmpty) c = c.option("inferSchema", "true")
        c.csv(paths: _*)
      case "json" => r.json(paths: _*)
      case "orc"  => r.orc(paths: _*)
      // raw line-per-row corpora (one `value` string column) — the
      // plain-text ingest path of crawl pipelines
      case "text" => r.text(paths: _*)
      case other  => throw new IllegalArgumentException(s"unsupported format: $other")
    }
  }

  /** save_df: write in the given format with the given mode. */
  def saveDf(
      df: DataFrame,
      path: String,
      format: String = "parquet",
      mode: String = "overwrite",
      header: Boolean = true
  ): Unit = format.toLowerCase match {
    case "parquet" => df.write.mode(mode).parquet(path)
    case "csv"     => df.write.mode(mode).option("header", header.toString).csv(path)
    case "json"    => df.write.mode(mode).json(path)
    case "orc"     => df.write.mode(mode).orc(path)
    case "text"    => df.write.mode(mode).text(path)
    case other     => throw new IllegalArgumentException(s"unsupported format: $other")
  }
}

object Warehouse {
  val knownTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings"
  )

  /** (sessionId, tableName) → the baseDir whose files the session's temp
    * view of that name currently reads. Views are valid for a warehouse
    * only when the owner matches its dir; anything else re-registers.
    */
  private val viewOwner =
    new ConcurrentHashMap[(Int, String), String]()

  /** Per-dir write epoch — bumped by every save into the dir, read around
    * registration so a racing write can never be cached as fresh.
    */
  private val epochs = new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  /** Counter for auto-named [[Warehouse.persistToTable]] targets — unique
    * within the JVM (the session's lifetime, like the reference's generated
    * temp-table names).
    */
  private[graft] val persistCounter = new java.util.concurrent.atomic.AtomicLong()

  private[graft] def epochOf(dir: String): java.util.concurrent.atomic.AtomicLong =
    epochs.computeIfAbsent(dir, _ => new java.util.concurrent.atomic.AtomicLong())

  /** Per-table write epoch, keyed by table path — bumped with its dir's
    * epoch by every write to that table. It keys [[mergedSchemaOf]], so
    * a write to one table keeps its siblings' cached union schemas. */
  private val tableEpochs =
    new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  private def tableEpochOf(path: String): java.util.concurrent.atomic.AtomicLong =
    tableEpochs.computeIfAbsent(path, _ => new java.util.concurrent.atomic.AtomicLong())

  // ---- time-travel layout helpers ----------------------------------------

  private val VersionDirPattern = "_graft_v=(\\d{5,})".r

  private[graft] def versionDir(base: String, v: Long): String =
    f"$base/_graft_v=$v%05d"

  /** Version numbers with a landed `_SUCCESS` marker, oldest first.
    * Empty for plain tables, missing paths, or single-file tables.
    */
  private[graft] def committedVersions(spark: SparkSession, base: String): Seq[Long] =
    committedVersionTimes(spark, base).map(_._1)

  /** (version, commit epoch-millis) pairs for committed versions, oldest
    * first. Commit time = the `_SUCCESS` marker's modification time (the
    * instant the write committed, not when its data files were started).
    */
  private[graft] def committedVersionTimes(
      spark: SparkSession, base: String): Seq[(Long, Long)] = {
    val hp = new HPath(base)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp) || !fs.getFileStatus(hp).isDirectory) return Nil
    fs.listStatus(hp).toSeq.flatMap { st =>
      st.getPath.getName match {
        case VersionDirPattern(n) if st.isDirectory =>
          val marker = new HPath(st.getPath, "_SUCCESS")
          if (fs.exists(marker))
            Some((n.toLong, fs.getFileStatus(marker).getModificationTime))
          else None
        case _ => None
      }
    }.sortBy(_._1)
  }

  /** Count retention: every committed version (oldest first) but the
    * newest `keepLast` — [[Warehouse.vacuumTable]]'s drop set. */
  private[graft] def dropByCount(versions: Seq[Long], keepLast: Int): Seq[Long] =
    versions.dropRight(keepLast)

  /** Age retention: every (version, commit millis) committed STRICTLY
    * before `cutoffMillis`, never the newest — [[Warehouse.vacuumTableOlderThan]]'s
    * drop set. */
  private[graft] def dropByAge(versions: Seq[(Long, Long)], cutoffMillis: Long): Seq[Long] = {
    val newest = versions.last._1
    versions.collect { case (v, t) if t < cutoffMillis && v != newest => v }
  }

  /** The newest committed version's directory, or None for plain tables. */
  private[graft] def latestVersionDir(
      spark: SparkSession, base: String): Option[String] =
    committedVersions(spark, base).lastOption.map(v => versionDir(base, v))

  /** Evict every session's ownership of `table` over `dir` and bump the
    * dir's epoch, forcing re-registration with a fresh file index on the
    * next loadSql.
    */
  private[graft] def invalidate(dir: String, table: String): Unit = {
    epochOf(dir).incrementAndGet()
    tableEpochOf(tablePath(dir, table)).incrementAndGet()
    viewOwner.forEach { (key, owner) =>
      if (key._2 == table && owner == dir) viewOwner.remove(key)
    }
  }

  /** Quote an identifier for Spark SQL text: wrap in backticks with
    * embedded backticks doubled (Spark's escape). The reference exposes the
    * same boundary per dialect — backtick+escape for BigQuery
    * (fugue_bigquery/execution_engine.py:49), double-quote for Trino
    * (fugue_trino/execution_engine.py:52) — so columns named `a b`,
    * `select`, or `a.b` survive SQL text (loadSql / rowFilter / presort
    * strings) without the caller hand-quoting.
    */
  def encodeColumnName(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** Column accessor that treats `name` as a LITERAL column name:
    * functions.col parses dots as struct navigation and would mis-resolve
    * a column named "a.b"; encoding first makes every verb safe for
    * special-character names.
    */
  def literalCol(name: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.col(encodeColumnName(name))

  /** True iff the text is a SELECT/WITH query rather than a table name —
    * leading whitespace ignored, the keyword must stand alone (so
    * "select.b.c" is a table name, not a query), matching the reference's
    * contract (tests/fugue_bigquery/test_utils.py).
    */
  def isSelectQuery(s: String): Boolean =
    s.trim.split("\\s+", 2).headOption.exists(w =>
      w.equalsIgnoreCase("SELECT") || w.equalsIgnoreCase("WITH"))

  /** "a.b.c" → dir/a/b/c.parquet; unqualified names stay flat. Note that
    * SQL registration ([[Warehouse.registerNamespace]]) covers ONE level
    * (Spark's session catalog has 2-part names); deeper nesting is
    * load/save-only. split(…, -1) so a trailing dot is rejected instead of
    * silently resolving to the flat name.
    */
  private[graft] def tablePath(dir: String, table: String): String = {
    val parts = table.split("\\.", -1)
    require(parts.forall(_.nonEmpty), s"invalid table name: '$table'")
    (Seq(dir) ++ parts.init :+ s"${parts.last}.parquet").mkString("/")
  }

  /** One parquet footer's Spark schema and its TIMESTAMP(NANOS) column
    * names (longs in that schema under the `nanosAsLong` legacy flag). */
  private[graft] final case class FooterSchema(schema: StructType, nanosCols: Set[String])

  /** THE schema rule for table reads: a table's schema is its first data
    * file's parquet footer, read on the driver — the path itself for a
    * single-file table, else the first listed file not named `_*` or `.*`,
    * searching into partition dirs. Reads hand that schema to Spark, so
    * Spark runs no footer-inference job (partition columns still come from
    * the dir names); `loadTable(mergeSchema = true)` unions EVERY footer
    * ([[mergedSchemaOf]]). Nothing is cached, so a table rewritten outside
    * graft reads the footer now on disk. A table dir without a data file,
    * or an unreadable footer, fails naming the path.
    */
  private[graft] def footerSchema(spark: SparkSession, path: String): FooterSchema = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.sparkContext.hadoopConfiguration
    val hp = new HPath(path)
    val fs = hp.getFileSystem(conf)
    def firstFile(dir: HPath): Option[HPath] =
      fs.listStatus(dir).iterator
        .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
        .flatMap(s => if (s.isDirectory) firstFile(s.getPath) else Some(s.getPath))
        .nextOption()
    val leaf =
      if (!fs.getFileStatus(hp).isDirectory) hp
      else firstFile(hp).getOrElse(
        throw new IllegalStateException(s"no parquet data file under table path $path"))
    val meta =
      try {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(leaf, conf))
        try reader.getFooter finally reader.close()
      } catch {
        case e: Exception => throw new IllegalStateException(s"unreadable parquet footer in $leaf", e)
      }
    val nanos = meta.getFileMetaData.getSchema.getFields.asScala.collect {
      case f if f.isPrimitive && (f.getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      }) => f.getName
    }.toSet
    val schema = ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(leaf, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    FooterSchema(schema, nanos)
  }

  /** Un-normalized read of the parquet at `path` with its [[footerSchema]]. */
  private[graft] def readStored(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(footerSchema(spark, path).schema).parquet(path)

  /** Convert the long-typed `nanosCols` ([[footerSchema]]; GraftSession
    * sets `nanosAsLong`, as Spark's vectorized reader rejects nanos
    * outright without it) back to timestamps, truncating nanos → micros
    * (below every oracle's resolution). Detected per footer, never
    * hardcoded per (table, column): the round-8 NTZ break showed such a
    * pin breaks silently once the data generator changes an encoding.
    */
  private[graft] def normalizeNanos(df: DataFrame, nanosCols: Set[String]): DataFrame =
    df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.LongType && nanosCols(f.name) => f.name
    }.foldLeft(df) { (d, c) =>
      d.withColumn(c, org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr(s"${encodeColumnName(c)} div 1000")))
    }

  /** Union (merged) schema per (table path, table write-epoch) — the
    * appendTable evolution check and compactTable's read need the union
    * of EVERY file's footer, which is O(files) to derive; re-deriving it
    * per append would make N appends O(N²) footer reads. The cache is
    * primed incrementally by [[recordMergedSchema]] after each append
    * (evolution only widens, so union(old, appended) is exact without
    * touching storage) and after a compaction; a cold/foreign-writer
    * epoch falls back to one real mergeSchema read. A write to another
    * table of the same dir leaves the entry valid.
    */
  private val mergedSchemaCache =
    new ConcurrentHashMap[(String, Long), org.apache.spark.sql.types.StructType]()

  private[graft] def mergedSchemaOf(spark: SparkSession,
      path: String): org.apache.spark.sql.types.StructType = {
    val epoch = tableEpochOf(path).get()
    mergedSchemaCache.keySet.removeIf(k => k._1 == path && k._2 != epoch)
    mergedSchemaCache.computeIfAbsent((path, epoch),
      _ => spark.read.option("mergeSchema", "true").parquet(path).schema)
  }

  private[graft] def recordMergedSchema(path: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val epoch = tableEpochOf(path).get()
    mergedSchemaCache.keySet.removeIf(k => k._1 == path && k._2 != epoch)
    mergedSchemaCache.put((path, epoch), schema)
  }

  /** Cast every TIMESTAMP_NTZ column to TIMESTAMP_LTZ. Warehouse parquet
    * written by other engines (pandas/pyarrow default) carries
    * isAdjustedToUTC=false and loads as NTZ; with the session timezone
    * pinned to UTC (GraftSession) this cast preserves the stored instant
    * bit-for-bit while restoring the full LTZ API surface (unix_micros,
    * typed java.sql.Timestamp encoders). No-op on LTZ frames.
    */
  private[graft] def normalizeNtz(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType => f.name
    }
    ntz.foldLeft(df) { (d, c) =>
      d.withColumn(c, literalCol(c).cast(org.apache.spark.sql.types.TimestampType))
    }
  }

  /** Morton interleave of pre-quantized values: bit b of `qs(i)` lands at
    * output bit b·cols + i. Pure long shift/mask column arithmetic —
    * codegen'd, and replayable verbatim with any engine's integer bit ops.
    */
  private[graft] def zInterleave(qs: Seq[org.apache.spark.sql.Column],
      bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    require(qs.nonEmpty && bits >= 1 && bits * qs.size <= 63,
      s"zInterleave: need 1..${63 / math.max(1, qs.size)} bits for ${qs.size} cols")
    val terms = for {
      b <- 0 until bits
      i <- qs.indices
    } yield shiftleft(shiftright(qs(i), b).bitwiseAND(lit(1L)), b * qs.size + i)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Attach the z-value column `__graft_z`: per-column min/max (ONE
    * aggregation pass, the only action), exact integer quantization to
    * `bits` bits — q = (v−min)·(2^bits−1) div (max−min), decimal
    * arithmetic so no long overflow and no float rounding — then
    * [[zInterleave]]. Constant columns (min == max) quantize to 0.
    */
  private[graft] def zOrderValue(df: DataFrame, zCols: Seq[String],
      bits: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    require(zCols.nonEmpty, "zOrderValue: at least one column")
    val longs = zCols.map(c => literalCol(c).cast("long"))
    val stats = df.agg(
      longs.zipWithIndex.map { case (c, i) => min(c).as(s"mn$i") }.head,
      (longs.zipWithIndex.map { case (c, i) => min(c).as(s"mn$i") }.tail ++
        longs.zipWithIndex.map { case (c, i) => max(c).as(s"mx$i") }): _*)
      .collect()(0)
    val maxQ = (1L << bits) - 1
    val withQ = longs.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      // a NULL min/max means the column is all-NULL or not long-castable —
      // silently unboxing to 0 would degrade the layout to fewer
      // dimensions with zero diagnostics
      require(stats.getAs[java.lang.Long](s"mn$i") != null &&
        stats.getAs[java.lang.Long](s"mx$i") != null,
        s"zOrderValue: column '${zCols(i)}' has no long-castable values")
      val mn = stats.getAs[Long](s"mn$i")
      val mx = stats.getAs[Long](s"mx$i")
      if (mx == mn) d.withColumn(s"__graft_q$i", lit(0L))
      else d
        .withColumn(s"__graft_qn$i",
          (c - lit(mn)).cast("decimal(38,0)") * lit(maxQ).cast("decimal(38,0)"))
        .withColumn(s"__graft_q$i",
          expr(s"CAST(__graft_qn$i div CAST(${mx - mn} AS decimal(38,0)) AS long)"))
    }
    withQ
      .withColumn("__graft_z",
        zInterleave(zCols.indices.map(i => col(s"__graft_q$i")), bits))
      .drop(zCols.indices.flatMap(i => Seq(s"__graft_q$i", s"__graft_qn$i")): _*)
  }

  private[graft] def isVectorColumnName(name: String): Boolean = {
    val n = name.toLowerCase
    Seq("embedding", "vec", "vector").exists(s => n == s || n.endsWith("_" + s))
  }
  /** Cast ARRAY<DOUBLE> columns that are VECTORS BY NAME CONTRACT
    * ("embedding", "vec", "vector", or a `_embedding`/`_vec`/`_vector`
    * suffix) to ARRAY<FLOAT> — the engine's vector representation
    * (float32: half the bytes at negligible cosine error, and what every
    * ANN kernel reads). Deliberately NOT a blanket element-type cast: a
    * legitimate double-array column that is not a vector (probability
    * lists, stats arrays) must keep its precision.
    */
  private[graft] def normalizeVectors(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val dbl = df.schema.fields.collect {
      case f if isVectorColumnName(f.name) &&
        f.dataType.isInstanceOf[ArrayType] &&
        f.dataType.asInstanceOf[ArrayType].elementType == DoubleType => f.name
    }
    dbl.foldLeft(df) { (d, c) =>
      d.withColumn(c, literalCol(c).cast(ArrayType(FloatType,
        d.schema(c).dataType.asInstanceOf[ArrayType].containsNull)))
    }
  }

  def apply(spark: SparkSession, baseDir: String): Warehouse =
    new Warehouse(spark, baseDir)
}
