package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Namespaced lakehouse tables over partitioned parquet + a snapshot
  * commit log — the emulation of the reference's Iceberg REST catalog
  * surface (SURVEY §1.1, §1.5, §7.4).
  *
  * The reference relies on four Iceberg behaviors:
  *  1. namespaced DDL (`CREATE NAMESPACE`, extract_bitcoin_prices.py:128);
  *  2. hidden `days(extracted_at)` partitioning (py:144) — emulated with
  *     a derived `graft_days_extracted_at` physical column that readers
  *     never see (dropped on scan), so the logical schema stays 9-column;
  *  3. atomic append with one snapshot per commit (py:193) — emulated
  *     with single-writer parquet append + a JSON-lines commit log;
  *  4. the `table.snapshots` metadata scan (README.md:301) — served from
  *     that log as a DataFrame with Iceberg-shaped columns.
  *
  * Scale posture: at 100 TB this class IS a real catalog (Iceberg/Delta)
  * and everything downstream is unchanged — the staging/mart transforms
  * only see `table(name)` DataFrames. Partitioning by day keeps scans
  * prunable by date predicates; the partition column is low-cardinality
  * (1/day) so small files stay bounded by batch cadence, and a compaction
  * pass would ride on the same log.
  */
final class LakeCatalog(spark: SparkSession, warehouseDir: String) {
  import LakeMeta.{deleteRecursive, hiddenCol}

  /** Physical partition column for `days(ts)`: the `graft_days_` prefix
    * is the derivation contract HiddenPartitionPruning keys on (the
    * suffix names the source timestamp column) — directory-derived
    * partition columns can't carry Catalyst metadata, so the name IS
    * the tag scoping the optimizer rewrite to our tables. */
  private def partitionColFor(ts: String) =
    graft.plans.HiddenPartitionPruning.Prefix + ts

  /** Warehouse root — the value an external session configures as
    * `spark.sql.catalog.<name>.warehouse` to address this same lake
    * through the [[graft.sources.GraftCatalog]] plugin. */
  private[graft] def warehouse: String = warehouseDir

  // Metadata layout and the snapshot-log codec are shared with the
  // catalog plugin and path mount (graft.sources) via LakeMeta — one
  // implementation so no two surfaces can drift.
  private[graft] def tablePath(name: String): String =
    LakeMeta.tablePath(warehouseDir, name)

  /** The current generation's data directory (pointer-resolved) —
    * where data files actually live; [[tablePath]] is the container.
    * Callers that capture this path read a snapshot-isolated
    * generation (see [[TableCommit]]). */
  private[graft] def dataPath(name: String): String =
    LakeMeta.dataPath(warehouseDir, name)

  /** Ensure the table exists in generation layout (creating an empty
    * first generation / migrating a legacy dir) and return its data
    * directory. Every write path funnels through this. */
  private def ensureTable(name: String): Path = {
    val parts = name.split('.')
    require(parts.length == 2, s"expected namespace.table, got $name")
    TableCommit.ensureTable(warehouseDir, parts(0), parts(1))
  }

  private def snapshotLogPath(name: String) =
    LakeMeta.snapshotLogPath(warehouseDir, name)

  /** The table's parsed snapshot log (see [[LakeMeta.Log]]). */
  private def log(name: String): LakeMeta.Log =
    LakeMeta.log(warehouseDir, name)

  private def schemaPath(name: String) =
    LakeMeta.schemaPath(warehouseDir, name)

  /** Schema sidecar: the table's full READ schema (data columns then
    * hidden partition columns), recorded at WRITE time so reads never
    * pay a footer-merge job. At 100 TB `mergeSchema=true` per read is a
    * scan-all-footers-per-query design — exactly the planning cost
    * Iceberg's metadata layer exists to avoid; this sidecar is the
    * emulation of that metadata (schema evolution is folded in once,
    * on append, driver-side). */
  private def saveSchema(name: String, schema: StructType): Unit = {
    val p = schemaPath(name)
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, schema.json.getBytes("UTF-8"))
    Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def savedSchema(name: String): Option[StructType] =
    LakeMeta.savedSchema(warehouseDir, name)

  /** Driver-side row count from the written parquet footers — a pure
    * metadata read (no Spark job, no task scheduling, no output-commit
    * churn), replacing the per-commit `spark.read.parquet(..).count()`
    * job the snapshot log used to pay. */
  private def parquetRowCount(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return 0L
    val conf = spark.sessionState.newHadoopConf()
    import scala.jdk.CollectionConverters._
    val stream = Files.walk(root)
    try stream.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    finally stream.close()
  }

  /** W1 — idempotent namespace creation (extract_bitcoin_prices.py:128). */
  def createNamespace(ns: String): Unit = {
    Files.createDirectories(Paths.get(s"$warehouseDir/$ns"))
  }

  def tableExists(name: String): Boolean = {
    val p = Paths.get(tablePath(name))
    if (!Files.exists(p)) return false
    val stream = Files.list(p)
    try stream.findFirst().isPresent finally stream.close()
  }

  private val commitCol = LakeMeta.CommitCol

  /** W3 — atomic-enough append partitioned by day of `partitionTs`
    * (single-writer discipline, SURVEY §7.4), one snapshot per commit.
    * Each commit writes under its own `commit=<id>` partition
    * directory, which is what makes snapshot reads (`tableAsOf`) a
    * partition-pruned filter instead of a file-level manifest. */
  def append(name: String, df: DataFrame, partitionTs: Option[String] = None): Unit = {
    appendCommit(name, df, partitionTs, batchId = None)
    ()
  }

  /** EXACTLY-ONCE append keyed by an external `batchId` (the
    * Structured Streaming foreachBatch epoch): foreachBatch delivers
    * at least once, so a replayed micro-batch must not land a second
    * snapshot. The batch id rides the snapshot-log line; a replay
    * whose id is already logged is a no-op, and a crash AFTER the
    * commit-dir rename but BEFORE the log line leaves an unlogged
    * orphan dir that the retry deletes and rewrites (the log line is
    * the append's commit point). Returns true iff this call applied
    * the batch. See [[graft.streaming.EventStreams.priceStreamToLake]]
    * — the streaming sink this closes the r14 Next #6 gap for. */
  def appendExactlyOnce(name: String, df: DataFrame, batchId: Long,
      partitionTs: Option[String] = None): Boolean = {
    if (log(name).batchApplied(batchId)) return false
    appendCommit(name, df, partitionTs, batchId = Some(batchId))
    true
  }

  /** Shared append body: stage the commit's files into a dot-prefixed
    * sibling, promote with ONE atomic directory rename, then log. A
    * crash mid-write leaves invisible staging residue; a crash between
    * rename and log leaves an unlogged `commit=N` dir that the next
    * append for the same id (the log line count is unchanged) deletes
    * before promoting its own — so a commit is visible to snapshot
    * queries exactly when its log line exists. */
  private def appendCommit(name: String, df: DataFrame,
      partitionTs: Option[String], batchId: Option[Long]): Unit = {
    val stage = ensureTable(name).resolve(
      s".append_stage_${java.util.UUID.randomUUID().toString.replace("-", "")}")
    val writer = partitionTs match {
      case Some(ts) =>
        df.withColumn(partitionColFor(ts), to_date(col(ts)))
          .write.partitionBy(partitionColFor(ts))
      case None => df.write
    }
    writer.mode(SaveMode.Overwrite).parquet(stage.toString)
    publishCommit(name, stage, df.schema, partitionTs, "append", batchId)
  }

  /** Promote a fully-written staged directory to the next `commit=N`
    * with ONE atomic rename (replacing an unlogged orphan of the same
    * id), fold its schema into the sidecar and log it. Returns the
    * snapshot id. */
  private def publishCommit(name: String, stage: Path, schema: StructType,
      partitionTs: Option[String], op: String,
      batchId: Option[Long] = None): Long = {
    val commitPath =
      ensureTable(name).resolve(s"$commitCol=${log(name).nextId}")
    if (Files.exists(commitPath)) deleteRecursive(commitPath)
    Files.move(stage, commitPath)
    // Fold this commit's schema into the sidecar (add-column evolution
    // happens HERE, once, driver-side — not on every read).
    saveSchema(name, appendReadSchema(name, schema, partitionTs))
    // Row count for the snapshot log comes from the WRITTEN parquet
    // footers (a driver-side metadata read) — counting the input df
    // would execute its whole plan a second time per commit.
    LakeMeta.append(snapshotLogPath(name), op,
      parquetRowCount(commitPath.toString), batchId = batchId).id
  }

  /** The read schema after an append of `incoming` data columns:
    * existing data columns (sidecar order), any NEW columns appended
    * (older commits surface them as NULL — Iceberg add-column
    * semantics), hidden partition columns last (partition-discovery
    * order: outer `commit` dir, then the day dir). Type changes on an
    * existing column are rejected loudly — this emulation supports
    * add-column evolution only. */
  private def appendReadSchema(name: String, incoming: StructType,
                               partitionTs: Option[String]): StructType = {
    val newData = incoming.fields.map(_.copy(nullable = true)).toSeq
    val data = savedSchema(name) match {
      case None => newData
      case Some(old) =>
        val oldData = old.fields.filterNot(f => hiddenCol(f.name)).toSeq
        val oldNames = oldData.map(_.name).toSet
        for (f <- oldData; nf <- newData.find(_.name == f.name))
          require(nf.dataType == f.dataType,
            s"$name column ${f.name} type changed " +
              s"(${f.dataType.catalogString} -> ${nf.dataType.catalogString}); " +
              "only add-column evolution is supported")
        oldData ++ newData.filterNot(f => oldNames(f.name))
    }
    // Hidden partition columns are a property of the TABLE, not of one
    // append: a partitionTs=None append onto a day-partitioned table
    // must keep the saved graft_days_* column (dropping it from the
    // sidecar would lose the day column on later reads — breaking
    // HiddenPartitionPruning — because user-specified read schemas
    // omit undeclared partition columns).
    val savedHidden = savedSchema(name).toSeq
      .flatMap(_.fields.filter(f => hiddenCol(f.name) && f.name != commitCol))
    val currentHidden =
      partitionTs.map(ts => StructField(partitionColFor(ts), DateType)).toSeq
    val hidden = StructField(commitCol, LongType) +:
      (savedHidden ++ currentHidden.filterNot(f =>
        savedHidden.exists(_.name == f.name)))
    StructType(data ++ hidden)
  }

  /** W4 — full-refresh CTAS (`CREATE OR REPLACE TABLE ... AS SELECT`),
    * the dbt `materialized='table'` strategy (reference README.md:370,388).
    * Materializes a complete new GENERATION (data + schema sidecar) in
    * an invisible staged dir, then publishes it through
    * [[TableCommit.commitGeneration]] — which, INSIDE the commit lock,
    * folds the live snapshot log + tags into the staged meta and
    * appends this replace's own log line BEFORE the atomic pointer
    * swap, so the committed generation is fully self-describing
    * (including its own history entry) and a crash at any point leaves
    * fully-old or fully-new, never a mix. */
  def createOrReplace(name: String, df: DataFrame): Unit = {
    val path = Paths.get(tablePath(name))
    // dot-prefixed namespace-level sibling: invisible to listings AND
    // to parquet scans while being written
    val tmp = path.resolveSibling(
      ".__ctas_tmp_" + java.util.UUID.randomUUID().toString.replace("-", "") +
        "_" + path.getFileName)
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // footer metadata count of the written files, not a second plan run
    val rows = parquetRowCount(tmp.toString)
    val meta = tmp.resolve(LakeMeta.MetaDirName)
    Files.createDirectories(meta)
    Files.write(meta.resolve("schema.json"),
      StructType(df.schema.fields.map(_.copy(nullable = true)))
        .json.getBytes("UTF-8"))
    val parts = name.split('.')
    TableCommit.commitGeneration(warehouseDir, parts(0), parts(1), tmp,
      logEntry = Some(("replace", rows)))
  }

  /** S5 — table scan by multi-part name. The physical partition
    * columns (`commit`, `graft_days_*`) are dropped so readers see the
    * declared logical schema (hidden partitioning emulation, SURVEY
    * §1.4); partition pruning on them still applies underneath (see
    * graft.plans.HiddenPartitionPruning for the ts→date rewrite). */
  /** Reads use the sidecar schema recorded at write time — no
    * footer-merge job per read. Add-column evolution still works:
    * commits written before a column existed surface it as NULL (the
    * parquet reader clips the requested schema per file). The
    * mergeSchema footer scan survives only as the REPAIR path for a
    * warehouse with no sidecar (e.g. produced by an older build); its
    * result is then saved so the cost is paid at most once. */
  private def readTable(name: String): DataFrame = {
    // resolve the generation pointer ONCE: every path this frame scans
    // belongs to one generation — snapshot-isolated, no rename window
    val data = dataPath(name)
    savedSchema(name) match {
      case Some(sc) => spark.read.schema(sc).parquet(data)
      case None =>
        val df = spark.read.option("mergeSchema", "true").parquet(data)
        saveSchema(name, df.schema)
        df
    }
  }

  def table(name: String): DataFrame = {
    val df = readTable(name)
    df.drop(df.columns.filter(hiddenCol).toSeq: _*)
  }

  /** Time travel: the table as of `snapshotId` (inclusive) — every
    * append commit up to that snapshot. The filter on the `commit`
    * partition column prunes later commits' files at the scan, the
    * same observable semantic as Iceberg `VERSION AS OF` on an
    * append-only table. CTAS tables (staging/mart) are full-refresh
    * replacements — their history is the latest state only, so time
    * travel applies to append tables (matching the reference, where
    * only raw accumulates snapshots hourly). */
  def tableAsOf(name: String, snapshotId: Long): DataFrame = {
    val df = readTable(name)
    LakeMeta.requireTimeTravel(warehouseDir, name,
      df.columns.contains(commitCol), snapshotId)
    df.filter(col(commitCol) <= snapshotId)
      .drop(df.columns.filter(hiddenCol).toSeq: _*)
  }

  /** Keyed upsert (the MERGE INTO … WHEN MATCHED UPDATE / WHEN NOT
    * MATCHED INSERT shape) over an append table: rows whose key
    * matches the batch are retired via the crash-safe [[deleteWhere]]
    * rewrite protocol, then the batch lands as ONE new commit — so
    * readers see either the pre-merge or the post-merge state of each
    * touched commit, the snapshot log records rewrite + append, and a
    * crash at any point recovers through [[recoverDeletes]].
    *
    * The match predicate is built from the batch's DISTINCT keys
    * (collected — a CDC batch's key set is bounded by the batch, not
    * the table; for multi-million-key batches, compact the feed with
    * [[graft.operators.Relational.cdcCompact]] first and upsert the
    * collapsed survivors). Returns (#rows replaced, #rows inserted). */
  def upsert(name: String, batch: DataFrame,
      keyCols: Seq[String]): (Long, Long) = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    // ONE InSet over a (possibly composite) key expression — an
    // OR-of-ANDs per key would grow the expression tree with the batch;
    // InSet stays a single hash-set membership node at any key count.
    // Composite keys compare via a separator-joined string rendering
    // (exact for the id/string keys MERGE targets key on).
    val keyExpr =
      if (keyCols.length == 1) col(keyCols.head)
      else concat_ws("\u0001", keyCols.map(c => col(c).cast("string")): _*)
    val keyVals = batch.select(keyExpr.as("k")).distinct()
      .collect().map(_.get(0)).toSeq
    require(keyVals.length <= 1000000,
      s"upsert: ${keyVals.length} distinct batch keys — compact the change " +
        "feed (cdcCompact) before merging a corpus-scale batch")
    val replaced = deleteWhere(name, keyExpr.isInCollection(keyVals))
    val inserted = batch.count()
    // preserve the table's hidden day partitioning: recover the source
    // timestamp column from the schema sidecar so the merged commit
    // lands day-partitioned like every other commit
    val partTs = LakeMeta.partitionTsOf(warehouseDir, name)
      .filter(batch.columns.contains)
    append(name, batch, partitionTs = partTs)
    (replaced, inserted)
  }

  /** Roll an append table back to `snapshotId` — the Iceberg
    * `rollback_to_snapshot` analog: commits AFTER the target stop
    * being readable and their files are removed; history at or before
    * the target is untouched (tableAsOf(m ≤ target) still works; later
    * ids resolve to the target state, exactly like Iceberg dropping
    * the rolled-back snapshots). Returns the number of rows removed.
    *
    * Crash safety: doomed commits are removed NEWEST FIRST, each by
    * atomic retire-rename (readers never see a partial dir) then
    * purge — any crash leaves a contiguous, valid table state and a
    * re-run completes the rollback; leftover retired dirs are hidden
    * from readers and swept on entry. */
  def rollbackTo(name: String, snapshotId: Long): Long = {
    recoverDeletes(name)
    LakeMeta.requireTimeTravel(warehouseDir, name,
      readTable(name).columns.contains(commitCol), snapshotId)
    // sweep retired dirs from a previously-crashed rollback
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dataPath(name))
    val st0 = Files.list(root)
    try st0.iterator().asScala.toList
      .filter(_.getFileName.toString.startsWith(".rollback_old_"))
      .foreach(deleteRecursive)
    finally st0.close()
    val doomed = LakeMeta.commitDirs(root).filter(_._1 > snapshotId)
      .map(_._2).reverse
    if (doomed.isEmpty) return 0L
    var removed = 0L
    doomed.foreach { commitDir =>
      removed += parquetRowCount(commitDir.toString)
      val retired = Paths.get(
        s"${dataPath(name)}/.rollback_old_${commitDir.getFileName}")
      Files.move(commitDir, retired) // atomic retire — readers skip dot-dirs
      deleteRecursive(retired)       // purge
    }
    LakeMeta.append(snapshotLogPath(name), "rollback", -removed)
    removed
  }

  /** Shallow (zero-copy) table clone — the Iceberg/Delta
    * `CREATE TABLE … CLONE` shape: the destination gets its own
    * directory tree, snapshot log, schema sidecar and tags, but every
    * DATA file is a hard link to the source's file (cost = file
    * count, never bytes; falls back to a copy on filesystems without
    * links). From that point the histories diverge: appends to either
    * side land in their own new commit dirs, and a rewrite/rollback
    * on one side only unlinks ITS directory entries — the shared
    * inodes keep the other side intact (the same isolation Iceberg
    * gets from immutable data files under per-table metadata).
    * Time travel, tags and `snapshots` work on the clone immediately
    * because the metadata sidecars are copied verbatim. Returns the
    * number of files linked. */
  def cloneTable(src: String, dst: String): Long = {
    require(tableExists(src), s"clone source $src does not exist")
    require(src != dst, "clone source and destination must differ")
    val srcRoot = Paths.get(dataPath(src))
    val dstContainer = Paths.get(tablePath(dst))
    if (Files.exists(dstContainer)) deleteRecursive(dstContainer)
    // the clone is built as a complete hidden GENERATION; the pointer
    // write at the end is its commit point (a crash mid-clone leaves
    // an unpointed container the next clone attempt replaces)
    val genName = LakeMeta.GenPrefix +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val dstRoot = dstContainer.resolve(genName)
    Files.createDirectories(dstRoot)
    var linked = 0L
    val stream = Files.walk(srcRoot)
    try stream.forEach { p =>
      val rel = srcRoot.relativize(p).toString
      // sidecars must be COPIED, never hard-linked: the snapshot log is
      // APPENDED in place, so a linked inode would leak one side's
      // commits into the other (the verbatim copy loop below owns them)
      if (!(rel == LakeMeta.MetaDirName ||
            rel.startsWith(LakeMeta.MetaDirName + "/"))) {
        val q = dstRoot.resolve(srcRoot.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(q)
        else {
          Files.createDirectories(q.getParent)
          try { Files.createLink(q, p); linked += 1 }
          catch {
            case _: UnsupportedOperationException |
                 _: java.nio.file.FileSystemException =>
              Files.copy(p, q); linked += 1
          }
        }
      }
    } finally stream.close()
    val dstMeta = dstRoot.resolve(LakeMeta.MetaDirName)
    Files.createDirectories(dstMeta)
    Seq(snapshotLogPath(src), schemaPath(src), tagsPath(src)).foreach { a =>
      if (Files.exists(a)) Files.copy(a, dstMeta.resolve(a.getFileName))
    }
    TableCommit.publishPointer(dstContainer, genName)
    linked
  }

  /** S6 — the `table.snapshots` metadata scan (reference README.md:301):
    * one row per commit with Iceberg-shaped columns. */
  def snapshots(name: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("committed_at", TimestampType),
      StructField("snapshot_id", LongType),
      StructField("operation", StringType),
      StructField("added_records", LongType)))
    import scala.jdk.CollectionConverters._
    val rows = log(name).entries.sortBy(_.id).map(e =>
      org.apache.spark.sql.Row(e.committedAt, e.id, e.operation, e.addedRecords))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The `table.partitions` metadata scan (Iceberg's partitions
    * metadata table): per physical partition (commit × day dir), the
    * record count — the operator's view of data layout and skew. One
    * scan, grouped on the partition columns the directory structure
    * already encodes (so the aggregate is shuffle-light: partition
    * values are constant within each input split). */
  def partitions(name: String): DataFrame = {
    val df = readTable(name)
    val partCols = df.columns.filter(hiddenCol).toSeq
    require(partCols.nonEmpty,
      s"$name is unpartitioned (CTAS tables have no partitions metadata)")
    df.groupBy(partCols.map(col): _*)
      .agg(count(lit(1)).as("record_count"))
      .orderBy(partCols.map(col): _*)
  }

  private def tagsPath(name: String) =
    LakeMeta.tagsPath(warehouseDir, name)

  /** Iceberg tags: a NAMED immutable reference to a snapshot
    * (`CREATE TAG v1 AS OF VERSION n`). Tags pin releases — "the mart
    * state we trained v1 on" — and read through [[tableAsOf]], so an
    * expired/compacted snapshot makes its tags unreadable too (the
    * fence wins; a tag is a name, not a retention guarantee — real
    * Iceberg keeps tagged snapshots alive instead, which needs the
    * file-manifest layer this emulation trades away). */
  def tagSnapshot(name: String, tag: String, snapshotId: Long): Unit = {
    require(snapshotId >= 1 && snapshotId <= currentSnapshotId(name),
      s"cannot tag snapshot $snapshotId of $name " +
        s"(table is at ${currentSnapshotId(name)})")
    val p = tagsPath(name)
    Files.createDirectories(p.getParent)
    val tags = readTags(name) + (tag -> snapshotId)
    val json = tags.map { case (k, v) =>
      s""""${k.replace("\"", "")}":$v""" }.mkString("{", ",", "}")
    Files.write(p, json.getBytes("UTF-8"))
  }

  def tags(name: String): Map[String, Long] = readTags(name)

  /** The table as of the TAGGED snapshot. */
  def tableAtTag(name: String, tag: String): DataFrame = {
    val id = readTags(name).getOrElse(tag,
      throw new IllegalArgumentException(s"no tag '$tag' on $name"))
    tableAsOf(name, id)
  }

  private def readTags(name: String): Map[String, Long] =
    LakeMeta.readTags(warehouseDir, name)

  /** Iceberg's `expire_snapshots` analog: fence off time travel below
    * `olderThan`. In this emulation every commit's files are still
    * part of the LIVE table (append-only data), so there is nothing
    * physical to delete until a [[compact]] folds history — expiration
    * is the metadata fence alone, giving the same user-visible
    * guarantee (tableAsOf / tableSince / diffSnapshots below the fence
    * refuse). The fence rides the snapshot log as an `expire` entry
    * carrying its OWN fence value (the entry's snapshot id keeps
    * counting commits). Returns the new floor. */
  def expireSnapshots(name: String, olderThan: Long): Long = {
    val current = currentSnapshotId(name)
    require(olderThan <= current,
      s"cannot expire up to $olderThan: table $name is at snapshot $current")
    if (olderThan > log(name).floor)
      LakeMeta.append(snapshotLogPath(name), "expire", 0L,
        fence = Some(olderThan))
    log(name).floor
  }

  /** MERGE (upsert) by key: rows in `updates` replace same-key rows in
    * the target; new keys append — the Iceberg/Delta `MERGE INTO ...
    * WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT` semantic the
    * reference's append-only pipeline never needed, but any CDC-fed
    * lake table does. Copy-on-write implementation: anti-join the
    * target against the update keys, union the updates, swap atomically
    * via the CTAS path (one snapshot). At 100 TB the anti-join is
    * key-partitioned (one shuffle) and partition-pruned to the files
    * containing matched keys by real table formats; the observable
    * semantics here are identical. */
  def mergeInto(name: String, updates: DataFrame, keys: Seq[String]): Unit = {
    // The CTAS rewrite below flattens the physical layout: it drops the
    // commit=N snapshot partitions and graft_days_* hidden partition
    // dirs. On a table with append history that would silently destroy
    // time travel AND leave a mixed root-files/commit=N layout a later
    // append() would corrupt — so MERGE is restricted to CTAS tables,
    // mirroring the tableAsOf guard in the opposite direction.
    val rawCols = savedSchema(name).map(_.fieldNames.toSeq)
      .getOrElse(spark.read.parquet(dataPath(name)).columns.toSeq)
    require(!rawCols.contains(commitCol),
      s"mergeInto target $name has append/commit history; MERGE is " +
      "copy-on-write over CTAS tables only (append history would be lost)")
    val current = table(name)
    val kept = current.join(updates.select(keys.map(col): _*), keys, "left_anti")
    createOrReplace(name, kept.unionByName(updates))
  }

  /** Row-level DELETE (copy-on-write) — `DELETE FROM t WHERE p`, the
    * action behind GDPR / right-to-be-forgotten purges. Works on both
    * table flavors:
    *  - CTAS tables: filtered CTAS swap (one snapshot);
    *  - append tables: only the commit partitions that actually
    *    CONTAIN matching rows are rewritten in place — untouched
    *    commits keep their files byte-identical. At 100 TB a real
    *    format prunes the rewrite to the few files whose key ranges
    *    cover the targets; commit granularity is the emulation of
    *    that file-level pruning. The rewrite is logged as a `rewrite`
    *    snapshot, deliberately RAISING THE TIME-TRAVEL FLOOR past the
    *    delete: a purged record must not remain readable through
    *    tableAsOf either (real Iceberg needs expire_snapshots after a
    *    COW delete for the same guarantee).
    * `predicate` ranges over user-visible columns only. Returns the
    * number of rows deleted. */
  def deleteWhere(name: String, predicate: org.apache.spark.sql.Column): Long = {
    recoverDeletes(name) // roll forward any crashed prior rewrite first
    val current = table(name)
    // three-valued logic: a NULL predicate must mean KEEP, not delete —
    // filter(p) && filter(!p) would silently drop NULL-evaluating rows
    // from BOTH sides (deleted by neither count nor retention)
    val doomed = coalesce(predicate, lit(false))
    val keep = !doomed
    val rawCols = savedSchema(name).map(_.fieldNames.toSeq)
      .getOrElse(spark.read.parquet(dataPath(name)).columns.toSeq)
    if (!rawCols.contains(commitCol)) {
      val nDel = current.filter(doomed).count()
      if (nDel == 0L) return 0L
      createOrReplace(name, current.filter(keep))
      nDel
    } else {
      // ONE pass yields both the deletion count and the affected
      // commit list (the commit-keyed aggregate is snapshot-bounded);
      // reading through readTable's sidecar schema means a predicate
      // on a LATER-added column resolves against every commit (old
      // commits surface it as NULL → keep, never AnalysisException).
      val raw = readTable(name)
      val perCommit = raw.filter(doomed)
        .groupBy(col(commitCol).cast("long").as("cid"))
        .agg(count(lit(1)).as("n")).collect()
      val nDel = perCommit.map(_.getAs[Long]("n")).sum
      if (nDel == 0L) return 0L
      val affected = perCommit.map(_.getAs[Long]("cid")).sorted
      val partCols = raw.columns.filter(c =>
        hiddenCol(c) && c != commitCol).toSeq
      // Crash safety: every crash point leaves the commit's rows
      // discoverable in exactly one of {commitDir, .delete_old (the
      // pre-delete contents), .delete_tmp (the complete post-delete
      // contents — written FULLY before the old dir moves aside)}.
      // [[recoverDeletes]] (run above, and callable standalone) rolls
      // any interrupted commit forward; a crash between retire and
      // promote hides that one commit from readers until recovery, but
      // never loses its kept rows.
      var remaining = 0L
      affected.foreach { cid =>
        val commitDir = Paths.get(s"${dataPath(name)}/$commitCol=$cid")
        val kept = raw.filter(col(commitCol) === cid).filter(keep)
          .drop(commitCol)
        val tmp = Paths.get(s"${dataPath(name)}/.delete_tmp_$cid")
        val retired = Paths.get(s"${dataPath(name)}/.delete_old_$cid")
        val writer = if (partCols.nonEmpty) kept.write.partitionBy(partCols: _*)
          else kept.write
        writer.mode(SaveMode.Overwrite).parquet(tmp.toString)
        remaining += parquetRowCount(tmp.toString)
        Files.move(commitDir, retired) // retire (tmp is complete here)
        Files.move(tmp, commitDir)     // promote
        deleteRecursive(retired)       // purge the old contents last
      }
      LakeMeta.append(snapshotLogPath(name), "rewrite", remaining)
      nDel
    }
  }

  /** Roll forward any [[deleteWhere]] commit-rewrite interrupted by a
    * crash, using the on-disk protocol state (dirs are dot-prefixed, so
    * readers never see them as data):
    *  - `.delete_old` present + commit dir present → crash after
    *    promote: the rewrite completed, purge the retired contents;
    *  - `.delete_old` present + commit dir absent → crash between
    *    retire and promote: `.delete_tmp` holds the complete rewritten
    *    contents (it is always fully written before retire) — promote
    *    it, then purge the retired dir;
    *  - `.delete_tmp` alone → crash mid-write: the commit dir is
    *    untouched, drop the partial tmp.
    * Idempotent; called at the head of [[deleteWhere]] and safe to run
    * any time under the same single-writer discipline as append. */
  def recoverDeletes(name: String): Unit = {
    val root = Paths.get(dataPath(name))
    if (!Files.exists(root)) return
    import scala.jdk.CollectionConverters._
    val entries = Files.list(root)
    val names = try entries.iterator().asScala.map(_.getFileName.toString).toList
      finally entries.close()
    names.filter(_.startsWith(".delete_old_")).foreach { oldName =>
      val cid = oldName.stripPrefix(".delete_old_")
      val commitDir = root.resolve(s"$commitCol=$cid")
      val tmp = root.resolve(s".delete_tmp_$cid")
      if (!Files.exists(commitDir)) {
        require(Files.exists(tmp),
          s"$name commit $cid: retired dir without tmp or commit — " +
            "protocol invariant broken, manual repair needed")
        Files.move(tmp, commitDir)
      }
      deleteRecursive(root.resolve(oldName))
    }
    names.filter(_.startsWith(".delete_tmp_")).foreach { tmpName =>
      val cid = tmpName.stripPrefix(".delete_tmp_")
      if (Files.exists(root.resolve(s"$commitCol=$cid")))
        deleteRecursive(root.resolve(tmpName))
    }
  }

  /** The table restricted to commits AFTER `snapshotId` — the change
    * feed an incremental transform consumes. Commit-partition pruned
    * like tableAsOf. */
  def tableSince(name: String, snapshotId: Long): DataFrame = {
    val df = readTable(name)
    LakeMeta.requireTimeTravel(warehouseDir, name,
      df.columns.contains(commitCol), snapshotId)
    df.filter(col(commitCol) > snapshotId)
      .drop(df.columns.filter(hiddenCol).toSeq: _*)
  }

  /** Latest snapshot id of an append table (0 when empty). */
  def currentSnapshotId(name: String): Long = log(name).current

  /** The `table.files` metadata scan (the Iceberg `files` table
    * analog, completing the metadata family beside [[snapshots]] and
    * [[partitions]]): one row per live data file with its commit,
    * hidden partition values, byte size, and footer record count —
    * the input to small-files monitoring (compact-when-fragmented
    * policies) and scan-planning audits. Pure driver-side METADATA:
    * directory walk + parquet footers, no executor job, no data read
    * — the same budget class as the snapshot log. */
  def files(name: String): DataFrame = {
    val root = Paths.get(dataPath(name))
    val schema = StructType(Seq(
      StructField("file_path", StringType),
      StructField("commit", LongType),
      StructField("partition_day", StringType),
      StructField("file_size_bytes", LongType),
      StructField("record_count", LongType)))
    if (!Files.exists(root)) return spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val conf = spark.sessionState.newHadoopConf()
    import scala.jdk.CollectionConverters._
    val stream = Files.walk(root)
    val rows = try stream.iterator().asScala
      .filter { f =>
        val rel = root.relativize(f).toString
        f.getFileName.toString.endsWith(".parquet") &&
          !rel.split('/').exists(seg =>
            seg.startsWith(".") || seg.startsWith("_"))
      }
      .map { f =>
        val rel = root.relativize(f).toString
        val segs = rel.split('/').toSeq
        def partVal(prefix: String): Option[String] = segs.collectFirst {
          case seg if seg.startsWith(prefix) && seg.contains("=") =>
            seg.substring(seg.indexOf('=') + 1)
        }
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        val n = try r.getRecordCount finally r.close()
        org.apache.spark.sql.Row(rel,
          partVal(commitCol + "=").map(_.toLong).getOrElse(0L),
          partVal(graft.plans.HiddenPartitionPruning.Prefix).orNull,
          Files.size(f), n)
      }.toList
    finally stream.close()
    spark.createDataFrame(rows.asJava, schema)
      .orderBy(col("commit"), col("file_path"))
  }

  /** Small-file compaction plan over [[files]]: contiguous bin-packing
    * of each partition's live files (in commit, path order — the
    * rewrite preserves ingest order) into target-sized output groups,
    * bin = ⌊exclusive-prefix-records / target⌋. One row per planned
    * output file with its input-file count, record and byte totals —
    * the dry-run a compaction job (or an operator deciding WHETHER to
    * compact) consumes. `targetRecords` keys the plan to footer record
    * counts (deterministic, engine-independent); byte totals ride
    * along for sizing.
    *
    * Scale: the window is PARTITION-KEYED — file lists per partition
    * are metadata-bounded (thousands, not corpus-scaled), and
    * partitions pack independently, which is also the correctness
    * requirement (never merge across partition boundaries). */
  def compactionPlan(name: String, targetRecords: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("partition_day"))
      .orderBy(col("commit"), col("file_path"))
    files(name)
      .withColumn("cum", sum(col("record_count")).over(w))
      .withColumn("bin",
        floor((col("cum") - col("record_count")) / targetRecords).cast("long"))
      .groupBy(col("partition_day"), col("bin"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("record_count")).as("total_records"),
        sum(col("file_size_bytes")).as("total_bytes"))
      .orderBy(col("partition_day"), col("bin"))
  }

  /** All `namespace.table` names present in the warehouse — a
    * metadata-grain directory scan (the catalog-listing call a serving
    * endpoint uses to expose everything at startup). */
  def tableNames: Seq[String] = {
    val root = Paths.get(warehouseDir)
    for (ns <- LakeMeta.visibleDirs(root);
         t <- LakeMeta.visibleDirs(root.resolve(ns))) yield s"$ns.$t"
  }

  /** Expose `name` to the SQL surface as temp view `viewName`
    * (default: the bare table name), wired for SQL-level time travel:
    * after this, `SELECT … FROM <view> VERSION AS OF n` and
    * `… TIMESTAMP AS OF '<ts>'` work through spark.sql AND the
    * Thrift/JDBC endpoint, resolved by [[graft.plans.TimeTravel]] to
    * [[tableAsOf]] (timestamps resolve driver-side against the
    * KB-scale snapshot log: the latest snapshot committed at or before
    * the timestamp — Iceberg's as-of-timestamp semantics). */
  def exposeSql(name: String, viewName: Option[String] = None): Unit = {
    val vn = viewName.getOrElse(name.split('.').last)
    table(name).createOrReplaceTempView(vn)
    graft.plans.TimeTravel.register(vn, graft.plans.TimeTravel.Target(
      v => tableAsOf(name, v),
      inst => tableAsOf(name, snapshotIdAt(name, inst))))
  }

  /** Latest snapshot id committed at or before `inst`, compared at
    * microsecond precision (driver-side read of the snapshot log — no
    * Spark job; the same resolution the catalog plugin and the path
    * mount use). */
  def snapshotIdAt(name: String, inst: java.time.Instant): Long =
    LakeMeta.snapshotIdAt(warehouseDir, name, inst)

  /** Row-level diff between two snapshots: what a reader at `to` sees
    * that a reader at `from` did not (`added`) and vice versa
    * (`removed`) — the audit query behind "what changed between the
    * Monday and Tuesday states", needed since [[deleteWhere]] made
    * history non-monotonic (the change feed only shows appends).
    * Bag semantics via exceptAll, so duplicate rows diff correctly.
    * Both snapshots must be at or above the rewrite floor, enforced by
    * [[tableAsOf]] — deliberately, a diff can never straddle a
    * [[deleteWhere]] purge (the purged rows would be reconstructable
    * from the 'removed' side otherwise). One co-partitioned anti-join
    * per direction at 100 TB — and for append-only ranges, prefer
    * [[tableSince]], which is partition-pruned instead of comparing
    * content. */
  def diffSnapshots(name: String, from: Long, to: Long): DataFrame = {
    val a = tableAsOf(name, from)
    val b = tableAsOf(name, to)
    b.exceptAll(a).withColumn("change", lit("added"))
      .unionByName(a.exceptAll(b).withColumn("change", lit("removed")))
  }

  /** Small-files compaction (the Iceberg `rewrite_data_files`
    * maintenance action): rewrites every live commit into ONE new
    * commit (preserving the hidden day-partitioning), deletes the old
    * commit directories, and logs a `rewrite` snapshot. An hourly
    * 3-row append cadence produces thousands of tiny files per year —
    * at 100 TB this action is what keeps file counts (and scan
    * planning time) bounded. Time travel to snapshots BEFORE the
    * rewrite is no longer possible (their files are gone) and is
    * guarded in tableAsOf. Single-writer discipline, like append: a
    * crash between write and delete leaves duplicate rows that the
    * next compact would fold again — acceptable for the emulation
    * (real Iceberg gets atomicity from its metadata swap). */
  def compact(name: String): Unit = {
    val path = dataPath(name)
    val raw = readTable(name)
    require(raw.columns.contains(commitCol),
      s"$name has no commit history (compact applies to append tables)")
    val oldCommits = LakeMeta.commitDirs(Paths.get(path)).map(_._2)
    val id = log(name).nextId
    val partCols = raw.columns
      .filter(_.startsWith(graft.plans.HiddenPartitionPruning.Prefix)).toSeq
    val data = raw.drop(commitCol)
    val writer =
      if (partCols.nonEmpty) data.write.partitionBy(partCols: _*) else data.write
    // the write executes against the file index captured above, so it
    // reads only the pre-existing commit dirs
    writer.mode(SaveMode.Append).parquet(s"$path/$commitCol=$id")
    oldCommits.foreach(deleteRecursive)
    LakeMeta.append(snapshotLogPath(name), "rewrite",
      parquetRowCount(s"$path/$commitCol=$id"))
  }

  /** Partition-scoped overwrite: replaces ONLY the partitions present
    * in `df` (dynamic partition overwrite), leaving every other
    * partition's files untouched — the incremental-materialization
    * write primitive. The partition column is a VISIBLE column here
    * (the mart's own grain column), unlike the hidden day-partitions of
    * append tables. One snapshot logged per call. */
  def overwritePartitions(name: String, df: DataFrame, partitionCol: String): Unit = {
    val path = ensureTable(name).toString
    df.write
      .partitionBy(partitionCol)
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .parquet(path)
    val dataFields = df.schema.fields.filterNot(_.name == partitionCol)
      .map(_.copy(nullable = true)).toSeq
    saveSchema(name, StructType(
      dataFields :+ StructField(partitionCol,
        df.schema(partitionCol).dataType)))
    LakeMeta.append(snapshotLogPath(name), "overwrite_partitions",
      parquetRowCount(path))
  }

  /** Bucketed table write into the session catalog: co-locates rows by
    * `bucketCol` so repeated joins/aggregations on that key run with
    * ZERO exchanges (SortMergeJoin reads matching buckets directly).
    * The 100 TB pattern for fact⋈fact joins both keyed by the same
    * column (lineitem⋈orders on orderkey): pay one layout write, then
    * every downstream join skips its shuffle. Table name goes through
    * the session catalog (`saveAsTable` — bucket metadata needs a
    * catalog entry, plain parquet paths can't carry it). */
  def writeBucketed(tableName: String, df: DataFrame,
                    bucketCol: String, numBuckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .option("path", s"$warehouseDir/_bucketed/$tableName")
      .saveAsTable(tableName)

  /** Write–audit–publish (the Iceberg WAP pattern: write to a staging
    * branch, audit it, cherry-pick into main only if clean): the
    * commit is staged OUTSIDE the table directory — invisible to every
    * reader — audited there with the dbt-test row checks, and only a
    * clean audit atomically moves it in as a visible commit + snapshot.
    * A failed audit deletes the staging files and leaves the table
    * byte-identical: no snapshot, no partial data, and the check
    * report comes back for the orchestrator's quarantine path. This is
    * the production answer to "dbt test runs AFTER the bad data is
    * already live" (the reference's e≫t≫t DAG, dag.py:30-37 — its
    * test stage can only alarm, never prevent).
    *
    * Scale posture: row-level checks are OBSERVED on the staging
    * write itself ([[Checks.observed]] — zero extra scans); only the
    * uniqueness checks re-read the staged files (footer schema, no
    * extra plan run of `df`, one distinct aggregate). Publish is a
    * directory rename — O(1), the same atomicity story as the CTAS
    * swap. */
  def writeAuditPublish(name: String, df: DataFrame,
      rowChecks: Seq[Checks.RowCheck], uniqueCols: Seq[String] = Nil,
      partitionTs: Option[String] = None): Either[DataFrame, Long] = {
    // dot-prefixed sibling: invisible to table listings while staged
    val staging = Paths.get(tablePath(name)).resolveSibling(
      s".__wap_${System.nanoTime()}_" +
        Paths.get(tablePath(name)).getFileName)
    val frame = partitionTs match {
      case Some(ts) => df.withColumn(partitionColFor(ts), to_date(col(ts)))
      case None => df
    }
    // Row-level checks ride the STAGING WRITE itself (Dataset.observe:
    // accumulator-backed counters evaluated as rows stream to parquet)
    // — the audit's row pass costs zero extra scans. Only the
    // uniqueness checks, which need a distinct aggregate, re-read the
    // staged files (schema from footers, still never re-planning df).
    val observedFrame =
      if (rowChecks.nonEmpty) Checks.observed(frame, rowChecks) else frame
    def stage(d: DataFrame): Unit = {
      val w = partitionTs match {
        case Some(ts) => d.write.partitionBy(partitionColFor(ts))
        case None => d.write
      }
      w.mode(SaveMode.Overwrite).parquet(staging.toString)
    }
    val rowViolations: Map[String, Long] =
      if (rowChecks.nonEmpty)
        Checks.observedMetrics(spark, observedFrame)(stage)
      else { stage(frame); Map.empty }
    val reportSchema = StructType(Seq(
      StructField("check_name", StringType, nullable = false),
      StructField("n_violations", LongType, nullable = false),
      StructField("passed", BooleanType, nullable = false)))
    val rowReport =
      if (rowChecks.nonEmpty && rowViolations.isEmpty) {
        // The observed-metrics row never arrived (listener timeout or a
        // dropped AsyncEventQueue event under load). Defaulting the
        // counts to zero would FAIL OPEN — dirty data published as
        // clean — so fall back to the read-back audit over the staged
        // files instead: slower, never wrong.
        Checks.report(spark.read.parquet(staging.toString), rowChecks, Nil)
          .collect().toSeq
      } else rowChecks.map { c =>
        val n = rowViolations.getOrElse(c.name, 0L)
        new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          Array[Any](c.name, n, n == 0L), reportSchema): org.apache.spark.sql.Row
      }
    val uniqueReport =
      if (uniqueCols.nonEmpty)
        Checks.report(spark.read.parquet(staging.toString), Nil, uniqueCols)
          .collect().toSeq
      else Nil
    val reportRows = (rowReport ++ uniqueReport).toArray
    val clean = reportRows.forall(_.getAs[Boolean]("passed"))
    if (!clean) {
      deleteRecursive(staging)
      Left(spark.createDataFrame(
        java.util.Arrays.asList(reportRows: _*), reportSchema))
    } else
      Right(publishCommit(name, staging, df.schema, partitionTs, "append_wap"))
  }
}
