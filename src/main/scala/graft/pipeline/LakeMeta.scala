package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.time.Instant
import java.time.temporal.ChronoUnit.MICROS
import org.apache.spark.sql.types.{DataType, StructType}

/** The warehouse layout shared by [[LakeCatalog]] (the in-process
  * facade), [[TableCommit]] and the `graft.sources` catalog plugin and
  * path mount: one implementation of the sidecar / snapshot-log / tags
  * layout so no two surfaces can drift.
  *
  * Functions are driver-side metadata operations keyed by
  * (warehouseDir, namespace.table) — the same signature shape Iceberg's
  * metadata layer has (catalog location + table identifier). The
  * snapshot log's codec lives here whole: its one writer ([[append]])
  * and its one reader ([[readLog]] / [[Log]]) serve every surface; the
  * data writes themselves stay in LakeCatalog and TableCommit.
  */
private[graft] object LakeMeta {

  /** Physical commit partition column (append tables only). */
  val CommitCol = "commit"

  /** Generation-pointer layout constants (see [[TableCommit]]): a
    * table directory is a CONTAINER holding dot-prefixed generation
    * dirs, a tiny pointer file naming the current one, and retirement
    * markers for grace-retained old generations. The dot prefix keeps
    * generations invisible to any raw parquet scan of the container —
    * a bypassing reader fails loudly instead of seeing a torn mix of
    * generations. */
  val PointerName = "_gen_pointer"
  val GenPrefix = ".gen-"
  val RetiredPrefix = ".gen_retired_"
  val SnapshotLogName = "snapshots.jsonl"
  val TagsName = "tags.json"

  /** The table CONTAINER directory `<warehouse>/<ns>/<table>`. Holds
    * the pointer + generations; never read raw — data lives under
    * [[dataPath]]. */
  def tablePath(warehouseDir: String, name: String): String = {
    val parts = name.split('.')
    require(parts.length == 2, s"expected namespace.table, got $name")
    s"$warehouseDir/${parts(0)}/${parts(1)}"
  }

  /** The current generation's DATA directory: container + the
    * generation the pointer names. One small-file read; a reader that
    * captures this path is snapshot-isolated for the retention grace
    * (the generation dir is immutable-except-appends once current and
    * survives [[TableCommit.retireGraceMs]] past its retirement).
    * Falls back to the container itself for a pre-generation legacy
    * layout (no pointer file). */
  def dataPath(warehouseDir: String, name: String): String = {
    val c = tablePath(warehouseDir, name)
    val p = Paths.get(c, PointerName)
    if (!Files.exists(p)) c
    else s"$c/${new String(Files.readAllBytes(p), "UTF-8").trim}"
  }

  /** Metadata sidecars are COLLOCATED inside the generation directory
    * (`<table>/<gen>/_graft_meta/…`) so a generation is one complete
    * self-describing table state: data, schema, snapshot log and tags
    * commit together under a single pointer swap — there is no crash
    * window where a table's data and sidecars can disagree. The `_`
    * prefix keeps the subtree invisible to parquet scans of the data
    * dir. */
  val MetaDirName = "_graft_meta"

  def metaDir(warehouseDir: String, name: String): Path =
    Paths.get(dataPath(warehouseDir, name), MetaDirName)

  def snapshotLogPath(warehouseDir: String, name: String): Path =
    metaDir(warehouseDir, name).resolve(SnapshotLogName)

  def schemaPath(warehouseDir: String, name: String): Path =
    metaDir(warehouseDir, name).resolve("schema.json")

  def tagsPath(warehouseDir: String, name: String): Path =
    metaDir(warehouseDir, name).resolve(TagsName)

  /** The table's full READ schema (data columns then hidden partition
    * columns) recorded at write time — see LakeCatalog.saveSchema. */
  def savedSchema(warehouseDir: String, name: String): Option[StructType] = {
    val p = schemaPath(warehouseDir, name)
    if (!Files.exists(p)) None
    else Some(DataType.fromJson(
      new String(Files.readAllBytes(p), "UTF-8")).asInstanceOf[StructType])
  }

  def readTags(warehouseDir: String, name: String): Map[String, Long] = {
    val p = tagsPath(warehouseDir, name)
    if (!Files.exists(p)) Map.empty
    else {
      val txt = new String(Files.readAllBytes(p), "UTF-8")
      """"([^"]+)":(\d+)""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toLong).toMap
    }
  }

  /** The source timestamp column of the table's hidden day
    * partitioning (None for unpartitioned / CTAS tables): recovered
    * from the sidecar's `graft_days_<ts>` physical column — the
    * derivation contract shared by the facade's upsert, the V1 write
    * seam and the catalog's partitioning report. */
  def partitionTsOf(warehouseDir: String, name: String): Option[String] =
    savedSchema(warehouseDir, name).toSeq.flatMap(_.fieldNames)
      .find(_.startsWith(graft.plans.HiddenPartitionPruning.Prefix))
      .map(_.stripPrefix(graft.plans.HiddenPartitionPruning.Prefix))

  /** True iff `c` is a physical partition column (`commit` or a
    * `graft_days_*` hidden day column) — present in the files, never in
    * the logical schema readers see. */
  def hiddenCol(c: String): Boolean =
    c == CommitCol || c.startsWith(graft.plans.HiddenPartitionPruning.Prefix)

  /** The `commit=N` partition directories under a table's data
    * directory, as (commit id, dir), ascending by id. */
  def commitDirs(dataDir: Path): Seq[(Long, Path)] = {
    import scala.jdk.CollectionConverters._
    val prefix = CommitCol + "="
    val st = Files.list(dataDir)
    try st.iterator().asScala
      .filter(_.getFileName.toString.startsWith(prefix))
      .map(p => p.getFileName.toString.stripPrefix(prefix).toLong -> p)
      .toSeq.sortBy(_._1)
    finally st.close()
  }

  /** Sorted names of the namespaces / tables under `p`: subdirectories
    * not hidden by a `_` or `.` prefix (Nil when `p` is no directory). */
  def visibleDirs(p: Path): List[String] =
    if (!Files.isDirectory(p)) Nil
    else {
      import scala.jdk.CollectionConverters._
      val st = Files.list(p)
      try st.iterator().asScala
        .filter(Files.isDirectory(_))
        .map(_.getFileName.toString)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
        .toList.sorted
      finally st.close()
    }

  /** Delete `p` and everything under it (no-op when absent); the walk
    * stream is closed even when a delete throws part-way. */
  def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally st.close()
    }

  // ---- snapshot log codec: the only code that knows the line format
  // {"committed_at":"<ISO instant>","snapshot_id":N,"operation":"<op>",
  //  "added_records":R[,"fence":F][,"batch_id":B]} — one line per
  // snapshot, ids contiguous from 1 in file order.

  /** One snapshot. `committedAt` is held at microsecond precision, the
    * precision `snapshots` shows, so as-of-timestamp lookups agree with
    * what a caller reads back. `fence` rides `expire` entries, `batchId`
    * exactly-once appends. */
  final case class Entry(committedAt: Instant, id: Long, operation: String,
      addedRecords: Long, fence: Option[Long], batchId: Option[Long])

  private def format(e: Entry): String = {
    val f = e.fence.map(v => s""","fence":$v""").getOrElse("")
    val b = e.batchId.map(v => s""","batch_id":$v""").getOrElse("")
    s"""{"committed_at":"${e.committedAt}","snapshot_id":${e.id},""" +
      s""""operation":"${e.operation}","added_records":${e.addedRecords}$f$b}"""
  }

  private val FieldRe = """"(\w+)":(?:"([^"]*)"|(-?\d+))""".r

  private def parse(line: String): Entry = {
    val f = FieldRe.findAllMatchIn(line)
      .map(m => m.group(1) -> Option(m.group(2)).getOrElse(m.group(3))).toMap
    Entry(Instant.parse(f("committed_at")).truncatedTo(MICROS),
      f("snapshot_id").toLong, f("operation"), f("added_records").toLong,
      f.get("fence").map(_.toLong), f.get("batch_id").map(_.toLong))
  }

  /** A table's parsed snapshot log, in file (= id) order. */
  final case class Log(entries: Seq[Entry]) {
    /** Latest snapshot id (0 for an empty log). */
    def current: Long = entries.size.toLong
    def nextId: Long = current + 1

    /** Oldest snapshot still time-travelable: a rewrite fences at its
      * own id (earlier files are gone), an expire at its fence. */
    def floor: Long = entries.collect {
      case Entry(_, id, "rewrite", _, _, _) => id
      case Entry(_, _, "expire", _, Some(fence), _) => fence
    }.foldLeft(0L)(math.max)

    /** Latest snapshot committed at or before `inst` (Iceberg's
      * as-of-timestamp rule). */
    def idAt(inst: Instant): Option[Long] =
      entries.filterNot(_.committedAt.isAfter(inst)).map(_.id).maxOption

    def exists(id: Long): Boolean = entries.exists(_.id == id)

    def batchApplied(batchId: Long): Boolean =
      entries.exists(_.batchId.contains(batchId))
  }

  /** Parse the log at `p` (empty when the file does not exist). */
  def readLog(p: Path): Log =
    if (!Files.exists(p)) Log(Nil)
    else {
      import scala.jdk.CollectionConverters._
      Log(Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty).map(parse))
    }

  def log(warehouseDir: String, name: String): Log =
    readLog(snapshotLogPath(warehouseDir, name))

  /** Append one entry under the next id to the log at `p` and return
    * it. A caller that names a `commit=N` dir after [[Log.nextId]]
    * first relies on single-writer discipline for the ids to agree. */
  def append(p: Path, operation: String, addedRecords: Long,
      fence: Option[Long] = None, batchId: Option[Long] = None): Entry = {
    Files.createDirectories(p.getParent)
    val e = Entry(Instant.now().truncatedTo(MICROS), readLog(p).nextId,
      operation, addedRecords, fence, batchId)
    Files.write(p, (format(e) + "\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    e
  }

  /** Refuse a time-travel read of `name` at `snapshotId` that the table
    * cannot serve: a table without append history (CTAS tables hold
    * only their latest state), or a snapshot below the log's floor. */
  def requireTimeTravel(warehouseDir: String, name: String,
      hasHistory: Boolean, snapshotId: Long): Unit = {
    require(hasHistory,
      s"$name has no commit history (CTAS tables hold only their latest state)")
    val floor = log(warehouseDir, name).floor
    require(snapshotId >= floor,
      s"$name snapshot $snapshotId predates the last compaction " +
        s"(rewrite snapshot $floor) — its files were folded away")
  }

  /** [[Log.idAt]] for `name`, failing loudly when no snapshot is that
    * old: the as-of-timestamp resolution of every surface. */
  def snapshotIdAt(warehouseDir: String, name: String, inst: Instant): Long =
    log(warehouseDir, name).idAt(inst).getOrElse(
      throw new IllegalArgumentException(
        s"$name has no snapshot committed at or before $inst"))
}
