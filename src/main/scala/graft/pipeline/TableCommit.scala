package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Crash-atomic table commit via GENERATION-POINTER INDIRECTION, shared
  * by the facade CTAS ([[LakeCatalog.createOrReplace]]) and the V2
  * staged CTAS/RTAS ([[graft.sources.GraftCatalog]]'s
  * StagingTableCatalog commit) — ONE implementation of the publish so
  * the two write surfaces can never drift (the same sharing discipline
  * as [[LakeMeta]] on the read side).
  *
  * Design (the Iceberg version-hint shape, emulated at directory
  * grain): a table directory is a CONTAINER —
  *
  * {{{
  *   <warehouse>/<ns>/<table>/
  *     _gen_pointer          # tiny file naming the current generation
  *     .gen-<uuid>/          # the current generation: data + _graft_meta/
  *     .gen-<uuid'>/         # a retired generation, grace-retained
  *     .gen_retired_<name>   # retirement marker (mtime = retire time)
  * }}}
  *
  * A generation is a fully self-describing table state (data files,
  * plus schema / snapshot-log / tags sidecars under `_graft_meta`).
  * Publishing a new generation is:
  *
  *   1. (inside the per-warehouse commit lock) fold history: copy the
  *      current generation's snapshot log into the staged one and
  *      append the new commit's own log entry — so the committed
  *      generation describes itself INCLUDING its own history line,
  *      and racing writers keep the log linear;
  *   2. move the staged directory into the container as `.gen-<uuid>`
  *      (invisible: nothing references it yet);
  *   3. atomically replace `_gen_pointer` (tmp file + ATOMIC_MOVE).
  *      THIS IS THE COMMIT POINT — the pointer either names the old
  *      generation or the new one, never a mix;
  *   4. write a retirement marker for the old generation and GC
  *      generations retired longer than [[retireGraceMs]] ago.
  *
  * A crash at ANY point needs no roll-forward: the pointer always
  * names one complete generation, so the next reader/writer simply
  * serves fully-old (crash before step 3) or fully-new (after).
  * Residue — a staged dir never published, a retired generation —
  * is invisible to every reader (dot-prefixed, unreferenced) and is
  * swept by age on later commits or a [[sweep]] pass.
  *
  * Reader visibility — the r14 caveat CLOSED: a reader resolves the
  * pointer once (one small-file read) and then scans only that
  * generation's directory; there is no rename window to observe, no
  * lock to take, and no check-then-read race. A DataFrame planned
  * before a commit keeps reading its (grace-retained) generation to
  * completion — snapshot isolation at the retention grain, exactly
  * Iceberg's model where old snapshot files survive until
  * expire_snapshots. The residual bound is honest and configurable:
  * a single scan must finish within [[retireGraceMs]] of TWO
  * subsequent full commits of the same table (production: set the
  * grace to the max query runtime, as Iceberg deployments do for
  * snapshot expiry).
  *
  * Raw `spark.read.parquet(<container>)` reads — the other r14 caveat
  * — are now structurally impossible to get WRONG: generations are
  * dot-prefixed, so a raw scan of the container sees no data at all
  * (loud empty-schema failure) instead of a torn mix; raw reads of a
  * specific generation directory ([[LakeMeta.dataPath]]) remain valid
  * and snapshot-isolated.
  *
  * 100 TB posture: the critical section is metadata-grain (one log
  * append, one directory rename, one pointer-file replace — never a
  * data copy), exactly an Iceberg metadata CAS; data volume never
  * enters the lock.
  */
private[graft] object TableCommit {
  import LakeMeta.deleteRecursive

  /** Test-only crash injection: invoked with a point label at each
    * protocol step; a test hook throws to simulate a crash mid-commit.
    * Points: pre-publish (staged written, not yet in the container),
    * post-publish (in the container, pointer still old), post-pointer
    * (committed, retirement/GC pending), post-gc. */
  @volatile private[graft] var crashHook: String => Unit = _ => ()

  /** How long a retired generation stays on disk after it stops being
    * current. This bounds reader snapshot lifetime (see class doc);
    * tests shrink it to exercise GC. */
  @volatile private[graft] var retireGraceMs: Long = 60000L

  private val commitMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  // warehouses whose file lock THIS thread already holds — re-entrant
  // commits must not re-acquire the FileChannel lock
  // (OverlappingFileLockException)
  private val held = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  /** Per-warehouse commit critical section: a JVM monitor (concurrent
    * Thrift sessions share one process) nested around a cross-process
    * file lock (`.graft_commit.lock` at the warehouse root) so
    * multi-JVM writers against one warehouse serialize too. Reentrant
    * per thread. Writers only — readers never take it. */
  def withCommitLock[T](warehouse: String)(body: => T): T = {
    val key = Paths.get(warehouse).toAbsolutePath.normalize.toString
    if (held.get()(key)) return body
    val mon = commitMonitors.computeIfAbsent(key, _ => new Object)
    mon.synchronized {
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(warehouse, ".graft_commit.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val l = ch.lock()
        held.set(held.get() + key)
        try body
        finally {
          held.set(held.get() - key)
          l.release()
        }
      } finally ch.close()
    }
  }

  private def container(warehouse: String, ns: String, table: String): Path =
    Paths.get(warehouse, ns, table)

  private def newGenName(): String =
    LakeMeta.GenPrefix +
      java.util.UUID.randomUUID().toString.replace("-", "")

  private def pointerPath(c: Path): Path = c.resolve(LakeMeta.PointerName)

  private def retiredMarker(c: Path, gen: String): Path =
    c.resolve(LakeMeta.RetiredPrefix + gen)

  /** Current generation name, or None for a table with no pointer
    * (not yet created, or pre-generation legacy layout). */
  def currentGen(c: Path): Option[String] = {
    val p = pointerPath(c)
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p), "UTF-8").trim)
  }

  /** Atomic pointer publish for callers that assemble a complete
    * generation in place (e.g. [[LakeCatalog.cloneTable]]). */
  def publishPointer(c: Path, gen: String): Unit = writePointer(c, gen)

  private def writePointer(c: Path, gen: String): Unit = {
    val p = pointerPath(c)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp." +
      java.util.UUID.randomUUID().toString.replace("-", ""))
    Files.write(tmp, gen.getBytes("UTF-8"))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Ensure `<ns>/<table>` exists in generation layout and return its
    * current DATA directory (the generation dir). Creates an empty
    * first generation for a fresh table; migrates a legacy (flat)
    * layout in place — see [[migrateLegacyLocked]]. Write paths call
    * this before touching data. */
  def ensureTable(warehouse: String, ns: String, table: String): Path = {
    val c = container(warehouse, ns, table)
    currentGen(c) match {
      case Some(g) => c.resolve(g)
      case None =>
        withCommitLock(warehouse) {
          currentGen(c) match { // re-check under the lock
            case Some(g) => c.resolve(g)
            case None =>
              Files.createDirectories(c)
              migrateLegacyLocked(c).getOrElse {
                val gen = c.resolve(newGenName())
                Files.createDirectories(gen)
                writePointer(c, gen.getFileName.toString)
                gen
              }
          }
        }
    }
  }

  /** One-time in-place upgrade of a pre-generation (flat) table dir:
    * move every legacy entry into a fresh generation dir, then write
    * the pointer. Crash-idempotent via a `_migrate` marker written
    * FIRST (naming the target generation): a re-run resumes moving the
    * remaining entries into the SAME generation and finishes the
    * pointer write. Single-writer: runs under the commit lock; legacy
    * readers racing the migration are unsupported for this one-time
    * upgrade (they fall back to the container and could see a
    * partially-moved state — quiesce readers before upgrading, as with
    * any in-place layout change). Returns the new data dir, or None if
    * the container held no legacy entries. */
  private def migrateLegacyLocked(c: Path): Option[Path] = {
    val marker = c.resolve("_migrate")
    import scala.jdk.CollectionConverters._
    def loose(): List[Path] = {
      val st = Files.list(c)
      try st.iterator().asScala.filterNot { p =>
        val n = p.getFileName.toString
        n == LakeMeta.PointerName || n == "_migrate" ||
          n.startsWith(LakeMeta.GenPrefix) ||
          n.startsWith(LakeMeta.RetiredPrefix)
      }.toList
      finally st.close()
    }
    val entries = loose()
    if (entries.isEmpty && !Files.exists(marker)) return None
    val genName =
      if (Files.exists(marker))
        new String(Files.readAllBytes(marker), "UTF-8").trim
      else {
        val g = newGenName()
        Files.write(marker, g.getBytes("UTF-8"))
        g
      }
    val gen = c.resolve(genName)
    Files.createDirectories(gen)
    loose().foreach(e => Files.move(e, gen.resolve(e.getFileName),
      StandardCopyOption.REPLACE_EXISTING))
    writePointer(c, genName)
    Files.delete(marker)
    Some(gen)
  }

  /** Publish `stagedDir` (a fully-written directory: data files plus a
    * `_graft_meta` sidecar dir) as the new current generation of
    * `<ns>/<table>`. The staged dir may live anywhere (typically a
    * dot-prefixed namespace-level sibling).
    *
    * `logEntry = Some((op, rows))` makes the commit SELF-DESCRIBING:
    * inside the lock, the current generation's snapshot log (and tags,
    * if the staged meta has none) are folded into the staged meta and
    * [[LakeMeta.append]] logs the new commit under the folded log's
    * next id — BEFORE the pointer swap, so a committed generation always
    * carries its own history entry and racing last-commit-wins writers
    * keep the log linear.
    * `logEntry = None` publishes the staged meta as-is (the V2 staged
    * path, whose staging-table writes already logged themselves). */
  def commitGeneration(warehouse: String, ns: String, table: String,
      stagedDir: Path, logEntry: Option[(String, Long)]): Unit =
    withCommitLock(warehouse) {
      val c = container(warehouse, ns, table)
      Files.createDirectories(c)
      val old = currentGen(c).orElse(
        migrateLegacyLocked(c).map(_.getFileName.toString))
      logEntry.foreach { case (op, rows) =>
        val stagedMeta = stagedDir.resolve(LakeMeta.MetaDirName)
        Files.createDirectories(stagedMeta)
        val stagedLog = stagedMeta.resolve(LakeMeta.SnapshotLogName)
        old.foreach { g =>
          val curMeta = c.resolve(g).resolve(LakeMeta.MetaDirName)
          val curLog = curMeta.resolve(LakeMeta.SnapshotLogName)
          // fold the LIVE history (not a pre-staging copy): linear
          // even when a rival committed since this writer staged
          if (Files.exists(curLog))
            Files.copy(curLog, stagedLog,
              StandardCopyOption.REPLACE_EXISTING)
          val curTags = curMeta.resolve(LakeMeta.TagsName)
          val stagedTags = stagedMeta.resolve(LakeMeta.TagsName)
          if (Files.exists(curTags) && !Files.exists(stagedTags))
            Files.copy(curTags, stagedTags)
        }
        LakeMeta.append(stagedLog, op, rows)
      }
      crashHook("pre-publish")
      val gen = c.resolve(newGenName())
      Files.move(stagedDir, gen)
      crashHook("post-publish")
      writePointer(c, gen.getFileName.toString) // THE COMMIT POINT
      crashHook("post-pointer")
      old.foreach { g =>
        val m = retiredMarker(c, g)
        if (!Files.exists(m)) Files.write(m, Array.emptyByteArray)
      }
      gcLocked(c)
      crashHook("post-gc")
    }

  /** Delete generations retired (or orphaned) longer than
    * [[retireGraceMs]] ago. Caller holds the commit lock. Orphans —
    * `.gen-*` dirs with no retirement marker that are not current —
    * come from a crash between publish and pointer swap; they age by
    * directory mtime. */
  private def gcLocked(c: Path): Unit = {
    if (!Files.isDirectory(c)) return
    val cur = currentGen(c)
    val cutoff = System.currentTimeMillis() - retireGraceMs
    import scala.jdk.CollectionConverters._
    val entries = {
      val st = Files.list(c)
      try st.iterator().asScala.toList finally st.close()
    }
    val genDirs = entries.filter(
      _.getFileName.toString.startsWith(LakeMeta.GenPrefix))
    val markers = entries.filter(
      _.getFileName.toString.startsWith(LakeMeta.RetiredPrefix))
    markers.foreach { m =>
      val gen = m.getFileName.toString.stripPrefix(LakeMeta.RetiredPrefix)
      if (cur.contains(gen)) Files.delete(m) // stale marker, gen is live
      else if (Files.getLastModifiedTime(m).toMillis < cutoff) {
        deleteRecursive(c.resolve(gen))
        Files.delete(m)
      }
    }
    genDirs.foreach { g =>
      val name = g.getFileName.toString
      val marked = Files.exists(retiredMarker(c, name))
      // Files.exists: the marker pass above may already have deleted it
      if (!cur.contains(name) && !marked && Files.exists(g) &&
          Files.getLastModifiedTime(g).toMillis < cutoff)
        deleteRecursive(g)
    }
  }

  /** Warehouse-wide residue sweep: GC every table's aged-out retired /
    * orphaned generations, finish any interrupted legacy migration,
    * and drop aged-out namespace-level staging residue (`.__ctas_tmp_*`
    * facade staging, `.__wap_*` audit staging, `__stage_*` V2 staging
    * tables abandoned by a hard crash). Run at catalog initialization;
    * cheap when there is nothing to do (directory listings only). */
  def sweep(warehouse: String): Unit = {
    val root = Paths.get(warehouse)
    if (!Files.isDirectory(root)) return
    import scala.jdk.CollectionConverters._
    def dirs(p: Path): List[Path] = {
      val st = Files.list(p)
      try st.iterator().asScala.filter(Files.isDirectory(_)).toList
      finally st.close()
    }
    val cutoff = System.currentTimeMillis() - math.max(retireGraceMs, 3600000L)
    val work = dirs(root).filterNot { ns =>
      val n = ns.getFileName.toString
      n.startsWith("_") || n.startsWith(".")
    }.flatMap { ns =>
      dirs(ns).map(t => (ns, t))
    }
    if (work.isEmpty) return
    withCommitLock(warehouse) {
      work.foreach { case (_, t) =>
        val n = t.getFileName.toString
        if ((n.startsWith(".__ctas_tmp_") || n.startsWith(".__wap_") ||
            n.startsWith("__stage_")) &&
            Files.getLastModifiedTime(t).toMillis < cutoff)
          deleteRecursive(t)
        else if (!n.startsWith(".") && !n.startsWith("_")) {
          if (Files.exists(t.resolve("_migrate"))) migrateLegacyLocked(t)
          gcLocked(t)
        }
      }
    }
  }
}
