package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.HostCanary
import graft.apply.CdcApply
import graft.core.WireTableSpec
import graft.genlog.ChangelogGen
import graft.laketable.LakeTable
import graft.streaming.CdcStream
import graft.streaming.CdcStream.RunConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measurement driver of the CDC benchmark. Runs one workload through the
  * engine's public entry points at `local[nproc]` and writes one JSON run
  * record (set-up times, every sync of every timed window, the end-of-run
  * scan and size, the correctness verdicts and, when traced, spans, Spark
  * counters and per-layer probes). `run.py` turns the record into metrics.
  *
  * {{{
  * perfbench.Main --workload catchup|incremental|catalog --seed N --seconds S
  *                --trace 0|1 --work DIR --out FILE
  * }}}
  *
  * With `--trace 1` the run makes two timed windows, untraced then traced,
  * so that the record carries the tracing overhead.
  */
object Main {
  val SetupPasses = 3
  val ProbeReps = 3
  val ScanReps = 5
  val SnapshotReps = 5

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val out = Paths.get(a("out"))

    val canaryBefore = HostCanary.best(1)
    val nproc = Runtime.getRuntime.availableProcessors
    val t0 = Clock.now
    val spark = session(workload, nproc, work)
    val sessionS = Clock.now - t0
    val rec = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> nproc, "master" -> spark.sparkContext.master,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "canary_before_s" -> canaryBefore, "session_s" -> sessionS)
    try {
      val w = Workload(workload, spark, work.resolve("tables"), seed, seconds,
        windows = if (traced) 2 else 1)
      rec("setup_s") = (1 to SetupPasses).map { _ =>
        val s = Clock.now
        w.setupPass()
        Clock.now - s
      }
      val tracer = new Tracer(java.util.UUID.randomUUID().toString, spark)
      val windows = if (!traced) Seq(w.window(seconds, tracer))
      else {
        val plain = w.window(seconds, tracer)
        val counters = tracer.enable()
        val tw = tracer.span("window")(w.window(seconds, tracer))
        counters.drain()
        addBatchSpans(tracer, tw, counters.streams.synchronized(counters.streams.toList))
        val probes = tracer.span("probes")(Probes.run(spark, tracer, w.probeRc))
        counters.drain()
        rec("probes") = probes
        rec("queries") = counters.streams.synchronized(counters.streams.toList).map(q =>
          Map("source" -> q.source, "start" -> q.start, "end" -> q.end,
            "batches" -> q.batches.toList))
        Seq(plain, tw)
      }
      rec("windows") = windows
      endOfRun(spark, w.tables, rec)
      if (traced) {
        tracer.disable()
        rec("run_id") = tracer.runId
        rec("spans") = tracer.all
      }
      rec("verdicts") = w.check()
    } finally {
      rec("canary_after_s") = HostCanary.best(1)
      rec("end_s") = Clock.now
      val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
      Files.createDirectories(out.toAbsolutePath.getParent)
      Files.writeString(out, mapper.writeValueAsString(rec))
      spark.stop()
    }
  }

  /** Each micro-batch Spark reported during a traced sync becomes a child
    * span of that sync, with its `foreachBatch` body (the apply) below it.
    */
  private def addBatchSpans(tr: Tracer, w: WindowRec, queries: Seq[QueryRec]): Unit = {
    val batches = queries.flatMap(_.batches)
    w.syncs.foreach { s =>
      batches.filter(b => b.start >= s.start - 0.002 && b.end <= s.end + 0.002).foreach { b =>
        val id = tr.add(s.span, "streaming.batch", b.start, b.end)
        tr.add(id, "apply.foreachBatch", b.end - b.commitS - b.addBatchS, b.end - b.commitS)
      }
    }
  }

  private def session(workload: String, nproc: Int, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // the catalog runner gives every stream its own FAIR pool
    if (workload == "catalog") b.config("spark.scheduler.mode", "FAIR")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Full scans with a per-row `sha256` of the payload, stored size and
    * file counts of the tables the run leaves.
    */
  private def endOfRun(spark: SparkSession, tables: Seq[Synced],
      rec: scala.collection.mutable.Map[String, Any]): Unit = {
    def scan(): Long = tables.map { s =>
      val df = s.table.read()
      val payload =
        if (df.columns.contains("content")) col("content")
        else to_json(struct(df.columns.map(col).toIndexedSeq: _*))
      df.agg(count(lit(1)), max(sha2(payload, 256))).head().getLong(0)
    }.sum
    var rows = 0L
    rec("scan_s") = (1 to ScanReps).map { _ =>
      val s = Clock.now
      rows = scan()
      Clock.now - s
    }
    rec("live_rows") = rows
    rec("stored_bytes") = tables.map(s => liveBytes(s.table)).sum
    rec("snapshot_load_ms") = tables.map { s =>
      median((1 to SnapshotReps).map { _ =>
        val t = Clock.now
        s.table.currentSnapshot.foreach(s.table.allFiles)
        (Clock.now - t) * 1e3
      })
    }
    rec("data_files") = tables.map(s => s.table.currentSnapshot.map(s.table.allFiles(_).size)
      .getOrElse(0)).sum
    rec("meta_files") = tables.map(s => treeFiles(Paths.get(s.table.root, "meta"))).sum
  }

  /** Bytes of the data files the current snapshot references, plus the
    * table's `meta` and `metrics` directories. Older data files kept for
    * the time-travel window are left out: how many there are depends on how
    * many commits the timed window happened to make.
    */
  private def liveBytes(t: LakeTable): Long = {
    val root = Paths.get(t.root)
    t.currentSnapshot.map(t.allFiles(_).map(f => Files.size(root.resolve(f.path))).sum)
      .getOrElse(0L) + treeBytes(root.resolve("meta")) + treeBytes(root.resolve("metrics"))
  }

  private def treeFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator.asScala.count(Files.isRegularFile(_)).toLong finally st.close()
    }

  private def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
}

/** Per-layer probes of the traced run: each layer's public entry point on
  * the workload's input shape, into Spark's `noop` sink. Each probe runs
  * `Main.ProbeReps` times; the record keeps the median and its span's
  * Spark counters.
  */
object Probes {
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, tr: Tracer, rc: RunConfig): Map[String, Any] = {
    def source(wire: Boolean): DataFrame = spark.read.format("graft-changelog")
      .options(CdcStream.sourceOptions(rc.copy(wirePayload = wire))).load()
    def timed(name: String)(df: => DataFrame): Span = {
      val spans = (1 to Main.ProbeReps).map { _ => tr.span(name)(noop(df)); tr.all.last }
      spans.sortBy(s => s.end - s.start).apply(spans.size / 2)
    }
    def row(s: Span) = Map("s" -> (s.end - s.start), "counters" -> s.counters)
    val spec = WireTableSpec.repoProfile
    val gen = timed("genlog.fullStream")(ChangelogGen.fullStream(spark, rc.gen))
    val read = timed("streaming.source")(source(wire = false))
    val dedup = timed("apply.dedupLww")(CdcApply.dedupLww(source(wire = false)))
    val wire = timed("streaming.wire_source")(source(wire = true))
    val norm = timed("functions.normalizedLanding")(source(wire = true).select(
      spec.columns.map(c => spec.normalizedLanding(c.name, col(s"after.${c.name}"))): _*))
    Map("genlog" -> row(gen), "source" -> row(read), "dedup" -> row(dedup),
      "dedup_out_rows" -> CdcApply.dedupLww(source(wire = false)).count(),
      "wire_source" -> row(wire), "normalize" -> row(norm))
  }
}
