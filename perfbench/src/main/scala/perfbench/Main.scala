package perfbench

import java.io.IOException
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Caching, Sessions, SparkEntry}
import graft.pipeline._
import graft.pipeline.Schemas.BitcoinPrice

/** One timed operation of a workload: a pipeline tick, one of the
  * ad-hoc reads that follow it, or one query. */
final case class OpRec(id: Long, kind: String, name: String, seconds: Double,
                       ok: Boolean, traced: Boolean)

/** A workload: `setup` runs once before timing; `runOp(k)` runs the
  * k-th operation of the closed loop; `verify` runs after timing and
  * leaves what the correctness check needs in the output dir. */
trait Workload {
  /** Operations in one pass; the timed loop only stops between passes,
    * so every operation of a pass is sampled equally often. */
  def passLength: Int = 1
  def setup(): Unit
  def runOp(k: Long, traced: Boolean): Seq[OpRec]
  def verify(): Map[String, Any]
  /** Per-layer counts read once after the traced window. */
  def counts(): Map[String, Any] = Map.empty
  /** A traced run calls `checkpoint` before the untraced window and
    * `rewind` before the traced one, so the traced window replays the
    * same operations on the same state. */
  def checkpoint(): Unit = ()
  def rewind(): Unit = ()
}

object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = Paths.get(o("out")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors
    val seconds = o("seconds").toDouble
    val traced = o.getOrElse("trace", "0") == "1"
    val plant = o.getOrElse("plant-wrong", "0") == "1"
    Files.createDirectories(out)

    val t0 = System.nanoTime()
    val spark = Sessions.build(cpus.toString, Map(
      "spark.local.dir" -> out.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> out.resolve("spark-warehouse").toString))
    spark.sparkContext.setLogLevel("ERROR")
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    mark("session built")
    val wl: Workload = o("workload") match {
      case "pipeline_tick" =>
        new PipelineTick(spark, o("seed").toLong, o("depth").toInt,
          o.getOrElse("warm-ticks", "1").toInt, out, plant)
      case "query_tail" =>
        new QueryMix(spark, o("queries").split(',').toSeq, o("data"), out, plant)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val profile = new Profile
    val result = if (o.contains("selftest")) try {
      wl.setup()
      attributionSelftest(wl, spark, profile)
    } finally spark.stop() else try {
      wl.setup()
      val setupS = (System.nanoTime() - t0) / 1e9
      mark("setup done")
      val ops = mutable.ArrayBuffer.empty[OpRec]
      if (traced) wl.checkpoint()
      val (untracedOps, n) = loop(wl, seconds, traced = false, spark, profile)
      ops ++= untracedOps
      val rssPeakMb = vmHwmMb()
      mark("timed window done")
      val layer: Map[String, Any] = if (!traced) Map.empty else {
        // the traced window replays the untraced one's n operations
        // from the same state, so the two compare op for op
        wl.rewind()
        spark.sparkContext.addSparkListener(profile)
        spark.listenerManager.register(profile)
        val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
        pools.foreach(_.resetPeakUsage())
        Trace.on = true
        ops ++= loop(wl, seconds, traced = true, spark, profile, count = Some(n))._1
        Trace.on = false
        PerfbenchBus.drain(spark.sparkContext)
        Map(
          "heap_peak_mb" -> pools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
          "groups" -> profile.groups.map { case (g, a) => g -> Map(
            "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
            "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
            "shuffle_write" -> a.shuffleWrite, "shuffle_read" -> a.shuffleRead,
            "spill" -> a.spill, "peak_mem" -> a.peakMem) },
          "execs" -> execsByOp.toMap,
          "spans" -> Trace.spans.map(s => Map("id" -> s.id, "name" -> s.name,
            "op" -> s.op, "parent" -> s.parent, "start_ns" -> s.startNs,
            "end_ns" -> s.endNs)),
          "counts" -> wl.counts())
      }
      Map("setup_s" -> setupS, "rss_peak_mb" -> rssPeakMb, "cpus" -> cpus,
        "ops" -> ops.map(r => Map("id" -> r.id, "kind" -> r.kind, "name" -> r.name,
          "seconds" -> r.seconds, "ok" -> r.ok, "traced" -> r.traced)),
        "cycles" -> cycles, "layer" -> layer, "verify" -> wl.verify())
    } finally {
      mark("verify done")
      spark.stop()
    }
    Files.write(out.resolve("result.json"), Json(result).getBytes("UTF-8"))
  }

  /** Runs two operations back to back with no drain between them, so
    * the second starts while the first's listener events may still be
    * queued, then reports what each group was charged. */
  private def attributionSelftest(wl: Workload, spark: SparkSession,
                                  profile: Profile): Map[String, Any] = {
    spark.sparkContext.addSparkListener(profile)
    Seq(0L, 1L).foreach(k => wl.runOp(k, traced = false))
    PerfbenchBus.drain(spark.sparkContext)
    Map("misattributed_tasks" -> profile.misattributedTasks,
      "groups" -> profile.groups.map { case (g, a) =>
        g -> Map("tasks" -> a.tasks, "shuffle_write" -> a.shuffleWrite,
          "stage_shuffle_write" -> a.stageShuffleWrite) })
  }

  /** Wall time of each loop iteration: the operation plus, for a tick,
    * its ad-hoc reads. */
  private val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** Executions charged to each traced operation, keyed by op id. */
  private val execsByOp = mutable.LinkedHashMap.empty[String, Seq[Map[String, Any]]]

  /** Closed loop: one thread, each operation starting when the
    * previous one has finished, until `seconds` have passed and the
    * current pass is complete, or for exactly `count` operations.
    * Returns the records and the number of operations run. */
  private def loop(wl: Workload, seconds: Double, traced: Boolean,
                   spark: SparkSession, profile: Profile,
                   count: Option[Long] = None): (Seq[OpRec], Long) = {
    val recs = mutable.ArrayBuffer.empty[OpRec]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var k = 0L
    while (count.fold(System.nanoTime() < deadline || k % wl.passLength != 0)(k < _)) {
      Trace.op = k
      val t0 = System.nanoTime()
      recs ++= wl.runOp(k, traced)
      cycles += Map("traced" -> traced, "seconds" -> (System.nanoTime() - t0) / 1e9)
      if (traced) {
        PerfbenchBus.drain(spark.sparkContext)
        execsByOp(k.toString) = profile.takeExecs().map(e => Map(
          "analysis_ms" -> e.analysisMs,
          "optimization_ms" -> e.optimizationMs, "planning_ms" -> e.planningMs,
          "duration_ns" -> e.durationNs, "ctas" -> e.ctas))
      }
      k += 1
    }
    (recs.toSeq, k)
  }

  def timed(body: => Boolean): (Double, Boolean) = {
    val t0 = System.nanoTime()
    val ok = try body catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] operation failed: $e")
        false
    }
    ((System.nanoTime() - t0) / 1e9, ok)
  }

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** Copies a directory tree, keeping modification times. */
  def copyTree(from: Path, to: Path): Unit = {
    val st = Files.walk(from)
    try st.iterator().asScala.foreach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    } finally st.close()
  }

  def deleteTree(dir: Path): Unit = {
    val st = Files.walk(dir)
    try st.iterator().asScala.toSeq.reverse.foreach(f => Files.delete(f))
    finally st.close()
  }

  def dump(df: DataFrame, path: Path, plant: Boolean): Unit =
    (if (plant) df.unionByName(df.limit(1)) else df)
      .write.mode("overwrite").parquet(path.toString)
}

/** The hourly tick: fetch three sources, raw commit, staging + mart
  * rebuild, checks; then the reference's ad-hoc reads on the same lake. */
final class PipelineTick(spark: SparkSession, seed: Long, depth: Int, warmTicks: Int,
                         out: Path, plant: Boolean) extends Workload {
  private val sc = spark.sparkContext
  private var fetchedRows = 0L
  private var fetchFailed = 0L
  /** Each fixture answers a tick with probability 0.8, drawn from the
    * seed; when all three would fail, one seeded source answers. */
  private final class SeededSource(inner: PriceSource, idx: Int) extends PriceSource {
    val name: String = inner.name
    def fetch(at: Timestamp, tick: Long): Try[BitcoinPrice] = Trace.span("pipeline.fetch") {
      val r = if (up(tick)(idx)) inner.fetch(at, tick)
        else Failure(new IOException(s"$name: seeded outage"))
      if (r.isSuccess) fetchedRows += 1 else fetchFailed += 1
      r
    }
  }
  private def up(tick: Long): Seq[Boolean] = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + tick)
    val ups = Seq.fill(3)(rnd.nextDouble() < 0.8)
    if (ups.exists(identity)) ups else Seq.tabulate(3)(_ == rnd.nextInt(3))
  }

  private val sources = PriceSource.fixtures.zipWithIndex.map { case (s, i) => new SeededSource(s, i) }
  private val wh = out.resolve("warehouse")
  private val p = new Pipeline(spark, wh.toString, sources)
  private val catalog = p.catalog
  private val start = java.time.LocalDateTime.of(2026, 1, 5, 0, 0).plusHours(seed.abs % 24)
  private var tick = 0L
  private var committed = 0L

  private def ingest(): Unit = {
    val n = Ingest.run(spark, catalog, sources, tick, Timestamp.valueOf(start.plusHours(tick)))
    tick += 1
    if (n > 0) committed += 1
  }

  private val stgChecks = Seq(Checks.notNull("data_source"), Checks.notNull("crypto_symbol"),
    Checks.notNull("extracted_at"), Checks.notNull("extraction_date"),
    Checks.acceptedValues("data_source", PriceSource.fixtures.map(_.name)),
    Checks.nonNegative("price_usd"), Checks.nonNegative("market_cap_usd"))
  private val martChecks = Seq(Checks.notNull("extraction_date"), Checks.notNull("data_source"),
    Checks.nonNegative("min_price_usd"), Checks.nonNegative("records"))

  private def checksPass(): Boolean =
    Seq(Checks.report(catalog.table(Transform.StgTable), stgChecks),
      Checks.report(catalog.table(Transform.FctTable), martChecks))
      .forall(_.collect().forall(_.getAs[Boolean]("passed")))

  /** History of `depth` raw commits, the last `warmTicks` of them made
    * by full untimed ticks so the tick and read paths are warm. */
  def setup(): Unit = {
    (1 to depth - warmTicks).foreach(_ => ingest())
    (1 to warmTicks).foreach { w =>
      require(runOp(-w, traced = false).forall(_.ok), "warm-up tick failed")
    }
  }

  /** A tick runs from when it is due (the previous operation's end, in
    * this closed loop) until its checks have passed. */
  def runOp(k: Long, traced: Boolean): Seq[OpRec] = {
    sc.setJobGroup(s"op$k", "tick")
    val tickStartMs = System.currentTimeMillis()
    val (s, ok) = Main.timed(Trace.span("tick") {
      Trace.span("pipeline.ingest")(ingest())
      Trace.span("pipeline.transform")(Transform.run(spark, catalog))
      Trace.span("pipeline.checks")(checksPass())
    })
    val tickRec = OpRec(k, "tick", "tick", s, ok, traced)
    sc.clearJobGroup()
    if (traced) bytesWritten += bytesModifiedSince(tickStartMs)
    tickRec +: reads(k, traced)
  }

  /** The reference's ad-hoc reads plus one time-travel and one
    * change-feed read at a seeded snapshot. */
  private def reads(k: Long, traced: Boolean): Seq[OpRec] = {
    sc.setJobGroup(s"op$k:adhoc", "adhoc")
    var snaps: Seq[Long] = Nil
    val rnd = new java.util.SplittableRandom(seed * 7919L + k)
    def read(name: String, span: String)(df: => DataFrame): OpRec = {
      val (s, ok) = Main.timed(Trace.span(span) {
        val frame = Trace.span("lake.table")(df)
        frame.collect()
        true
      })
      OpRec(k, "adhoc", name, s, ok, traced)
    }
    val recs = Seq(
      read("raw_limit10", "adhoc.raw_limit10")(p.rawLimit10),
      read("mart_scan", "adhoc.mart_scan")(p.martScan),
      read("latest5", "adhoc.latest5")(p.latest5),
      {
        val (s, ok) = Main.timed(Trace.span("lake.snapshots") {
          snaps = p.snapshots.collect().map(_.getAs[Long]("snapshot_id")).toSeq
          snaps.nonEmpty
        })
        OpRec(k, "adhoc", "snapshots", s, ok, traced)
      })
    val at = if (snaps.isEmpty) 1L else snaps(rnd.nextInt(snaps.size))
    val rest = Seq(
      read("as_of", "lake.asof")(catalog.tableAsOf(Ingest.RawTable, at)),
      read("since", "lake.since")(catalog.tableSince(Ingest.RawTable, at)))
    sc.clearJobGroup()
    recs ++ rest
  }

  private val bytesWritten = mutable.ArrayBuffer.empty[Long]

  private val saved = out.resolve("warehouse-checkpoint")
  private var savedCounters = Seq.empty[Long]

  override def checkpoint(): Unit = {
    Main.copyTree(wh, saved)
    savedCounters = Seq(tick, committed, fetchedRows, fetchFailed)
  }

  /** Back to the checkpoint: the warehouse as it was, and the tick and
    * fetch counters, so the seeded outages and row counts repeat too. */
  override def rewind(): Unit = {
    Main.deleteTree(wh)
    Main.copyTree(saved, wh)
    val Seq(t, c, f, ff) = savedCounters
    tick = t; committed = c; fetchedRows = f; fetchFailed = ff
  }

  /** Bytes of warehouse files created or rewritten since `ms`. */
  private def bytesModifiedSince(ms: Long): Long = {
    val st = Files.walk(wh)
    try st.iterator().asScala
      .filter(f => Files.isRegularFile(f) && Files.getLastModifiedTime(f).toMillis >= ms)
      .map(Files.size).sum
    finally st.close()
  }

  override def counts(): Map[String, Any] = {
    val files = catalog.files(Ingest.RawTable).collect()
    val rows = catalog.table(Ingest.RawTable).count()
    val bytes = files.map(_.getAs[Long]("file_size_bytes")).sum
    val tableDir = wh.resolve("raw").resolve("bitcoin_prices")
    val logBytes = if (!Files.exists(tableDir)) 0L else {
      val st = Files.walk(tableDir)
      try st.iterator().asScala.filter(_.getFileName.toString == "snapshots.jsonl")
        .map(Files.size).sum
      finally st.close()
    }
    Map("raw_commits" -> p.snapshots.count(),
      "raw_data_files" -> files.length,
      "raw_dirs" -> files.map(f => Paths.get(f.getAs[String]("file_path")).getParent).distinct.length,
      "bytes_per_raw_row" -> (if (rows == 0) 0.0 else bytes.toDouble / rows),
      "snapshot_log_bytes" -> logBytes,
      "fetch_failed" -> fetchFailed,
      "bytes_written_per_tick" ->
        (if (bytesWritten.isEmpty) 0.0 else bytesWritten.sum.toDouble / bytesWritten.size))
  }

  def verify(): Map[String, Any] = {
    Main.dump(p.martScan, out.resolve("mart"), plant)
    Map("snapshots" -> p.snapshots.count(), "committed" -> committed,
      "raw_rows" -> catalog.table(Ingest.RawTable).count(), "fetched_rows" -> fetchedRows,
      "raw_files" -> catalog.table(Ingest.RawTable).inputFiles.toSeq,
      "staging_sql" -> Transform.StagingSql, "mart_sql" -> Transform.DailyMartSql)
  }
}

/** A fixed mix of registry queries over one input directory, cycled in
  * order. */
final class QueryMix(spark: SparkSession, names: Seq[String], dir: String,
                     out: Path, plant: Boolean) extends Workload {
  private val sc = spark.sparkContext
  private val registry = SparkEntry.queries
  override def passLength: Int = names.size

  private def hygiene(): Unit = {
    spark.catalog.clearCache()
    Caching.sweepPersistentRdds(spark)
  }

  /** Two warm-up passes: the first keeps every query's output for the
    * oracle check, the second runs the timed path, so the timed window
    * starts on JIT-compiled code. */
  def setup(): Unit = {
    names.zipWithIndex.foreach { case (n, i) =>
      hygiene()
      Main.dump(registry(n)(spark, dir), out.resolve("dumps").resolve(n), plant && i == 0)
    }
    names.indices.foreach { k =>
      require(runOp(k, traced = false).forall(_.ok), s"warm-up of ${names(k)} failed")
    }
  }

  def runOp(k: Long, traced: Boolean): Seq[OpRec] = {
    val name = names((k % names.size).toInt)
    hygiene()
    val (s, ok) = Main.timed(Trace.span("query") {
      sc.setJobGroup(s"op$k:construct", name)
      val df = Trace.span("operators.construct")(registry(name)(spark, dir))
      sc.setJobGroup(s"op$k:run", name)
      Trace.span("exec.run")(df.write.format("noop").mode("overwrite").save())
      true
    })
    sc.clearJobGroup()
    Seq(OpRec(k, "query", name, s, ok, traced))
  }

  /** Leaves oracle_sql.json beside the dumps, the layout the engine's
    * oracle gate reads. */
  def verify(): Map[String, Any] = {
    Files.write(out.resolve("dumps").resolve("oracle_sql.json"),
      Json(names.distinct.map(n => n -> SparkEntry.oracleSql(n)).toMap).getBytes("UTF-8"))
    Map("data_dir" -> dir)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
