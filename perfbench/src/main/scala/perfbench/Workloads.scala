package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import graft.core.{ChangeEvent, ConfiguredCatalog, ConfiguredStream}
import graft.genlog.GenConfig
import graft.laketable.LakeTable
import graft.streaming.CdcStream
import graft.streaming.CdcStream.RunConfig
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** One sync call in a timed window. `from`/`to` are the per-shard positions
  * it drained between (open loop only; 0 for closed loops, whose backlog
  * exists when the sync is called).
  */
final case class SyncRec(start: Double, end: Double, events: Long, from: Long, to: Long,
    batches: Long, ok: Boolean, span: Int)

/** A timed window: its syncs and, for the open loop, the head-advance
  * schedule (the head at time t is `p0 + floor((t - origin) * ratePerShard)`
  * on every one of `shards` shards).
  */
final case class WindowRec(traced: Boolean, loop: String, start: Double, end: Double,
    syncs: Seq[SyncRec], origin: Double = 0.0, p0: Long = 0L, ratePerShard: Double = 0.0,
    shards: Int = 0,
    endPos: Long = 0L, overrun: Boolean = false, applyBatchS: Seq[Double] = Nil)

/** A benchmark workload: set-up passes, timed windows, the tables it leaves
  * for the end-of-run scan, and its correctness gate.
  */
abstract class Workload(val spark: SparkSession, val work: Path) {
  def name: String
  /** The event shape the per-layer probes read (one sync's input). */
  def probeRc: RunConfig
  /** Creates the workload's tables and brings them to the state a timed
    * window starts from. Run several times; the last pass's state is kept.
    */
  def setupPass(): Unit
  def window(seconds: Double, tr: Tracer): WindowRec
  /** Tables the end-of-run scan, size and file counts cover. */
  def tables: Seq[Synced]
  /** Correctness gate (untimed). */
  def check(): Seq[Verdict]

  private var dirs = 0
  protected def freshDir(tag: String): Path = { dirs += 1; work.resolve(s"$tag-$dirs") }

  protected def rcAt(dir: Path, gen: GenConfig, buckets: Int): RunConfig =
    RunConfig(gen, dir.resolve("table").toString, dir.resolve("checkpoint").toString,
      numBuckets = buckets)

  protected def create(rc: RunConfig): LakeTable = {
    val t = new LakeTable(rc.tableRoot, spark)
    t.create(ChangeEvent.landingSchemaFor(rc.wirePayload, rc.includeMetadata), rc.numBuckets)
    t
  }

  protected def dropDir(dir: Path): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)

  /** `CdcApply.applyBatch` walls of the batches a table committed from
    * `fromBatch` on, as the engine's metrics sidecar records them.
    */
  protected def sidecarWalls(root: String, fromBatch: Long): Seq[Double] =
    CdcStream.readMetrics(spark, root).filter(col("batch_id") >= fromBatch)
      .select("batch_id", "wall_ms").distinct().collect().map(_.getLong(1) / 1e3).toSeq

  protected def timedSync(tr: Tracer)(body: => Long): (Double, Double, Long, Boolean, Int) = {
    val s = Clock.now
    val out = Try(tr.span("streaming.sync")(body))
    out.failed.foreach(e => System.err.println(s"[perfbench] sync failed: $e"))
    (s, Clock.now, out.getOrElse(0L), out.isSuccess, if (tr.enabled) tr.lastId else 0)
  }
}

object Workload {
  /** A window holds at least this many measured syncs, however long they take. */
  val MinSyncs = 2

  def apply(name: String, spark: SparkSession, work: Path, seed: Long, seconds: Int,
      windows: Int): Workload = name match {
    case "catchup"     => new Catchup(spark, work, seed)
    case "incremental" => new Incremental(spark, work, seed, seconds, windows)
    case "catalog"     => new Catalog(spark, work, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The `graft.Bench.benchGen` changelog shape: 16 shards, 2,000 repos ×
    * 100 paths, Zipf 2.0 repo skew, 5 % deletes, 4 content blocks.
    */
  def benchShape(seed: Long, events: Long, copyRows: Long): GenConfig =
    GenConfig(seed = seed, numEvents = events, numShards = 16, numRepos = 2000,
      pathsPerRepo = 100, copyRows = copyRows, zipfSkew = 2.0, deleteRatio = 0.05,
      contentBlocks = 4)
}

/** Initial sync of a backlog into an empty 32-bucket table, one
  * `runAvailableNow` with no admission limit; closed loop, one sync at a
  * time, each into a fresh table.
  */
final class Catchup(spark: SparkSession, work: Path, seed: Long)
    extends Workload(spark, work) {
  val name = "catchup"
  val Events = 50000L
  val Buckets = 32
  val gen: GenConfig = Workload.benchShape(seed, Events, Events / 10)
  private var last: Option[Path] = None

  def probeRc: RunConfig = rcAt(work.resolve("probe"), gen, Buckets)

  private def rep(tr: Tracer): SyncRec = {
    last.foreach(dropDir)
    val dir = freshDir(name)
    last = Some(dir)
    val rc = rcAt(dir, gen, Buckets)
    create(rc)
    val (s, e, b, ok, span) = timedSync(tr)(CdcStream.runAvailableNow(spark, rc))
    SyncRec(s, e, Check.events(gen), 0L, 0L, b, ok && b == 1, span)
  }

  /** Creates an empty table and syncs the backlog into it (the warm-up). */
  def setupPass(): Unit = rep(Tracer.off)

  def window(seconds: Double, tr: Tracer): WindowRec = {
    val w0 = Clock.now
    val syncs = ArrayBuffer.empty[SyncRec]
    val walls = ArrayBuffer.empty[Double]
    while (Clock.now - w0 < seconds || syncs.size < Workload.MinSyncs) {
      syncs += rep(tr)
      if (tr.enabled) walls ++= sidecarWalls(last.get.resolve("table").toString, 0L)
    }
    WindowRec(tr.enabled, "closed", w0, Clock.now, syncs.toSeq, applyBatchS = walls.toSeq)
  }

  def tables: Seq[Synced] = last.toSeq.map(d =>
    Synced(new LakeTable(d.resolve("table").toString, spark), gen, "repo_content"))

  def check(): Seq[Verdict] = tables.flatMap { s =>
    Seq(Check.typedRows(spark, s), Check.cursors(s), Check.metrics(spark, s, "default"))
  }
}

/** A steady sync loop over a table populated in set-up. The source head
  * advances with wall time at a fixed offered rate and is handed to the
  * source as `endSeq`; syncs run back to back, each draining to the head it
  * peeked (open loop: a slow sync makes the next batch bigger). The head
  * starts advancing when the last set-up pass's base sync starts.
  */
final class Incremental(spark: SparkSession, work: Path, seed: Long, seconds: Int,
    windows: Int) extends Workload(spark, work) {
  val name = "incremental"
  val Shards = 16
  val OfferedPerS = 2000.0
  val RatePerShard: Double = OfferedPerS / Shards
  /** Live rows after set-up: one copy-phase row per key. */
  val BaseRows = 20000L
  /** Catch-up positions per shard: twice what the head can reach in the
    * run's windows plus set-up's last sync, so the head never reaches the
    * changelog's end.
    */
  val CatchupPos: Long = math.ceil(RatePerShard * (windows * seconds * 2 + 10)).toLong
  val gen: GenConfig = Workload.benchShape(seed, Shards * CatchupPos, BaseRows)
  val p0: Long = graft.genlog.EventGen.copyPerShard(gen)
  val endPos: Long = p0 + CatchupPos

  private var dir: Option[Path] = None
  private var origin = 0.0
  private var committed = 0L

  private def rc: RunConfig = rcAt(dir.get, gen, 16)

  def probeRc: RunConfig = rcAt(work.resolve("probe"),
    gen.copy(numEvents = math.round(OfferedPerS * 5), copyRows = 0L), 16)

  def setupPass(): Unit = {
    dir.foreach(dropDir)
    dir = Some(freshDir(name))
    create(rc)
    origin = Clock.now
    CdcStream.runAvailableNow(spark, rc.copy(endSeq = Some(p0)))
    committed = p0
  }

  private def headAt(t: Double): Long = p0 + math.floor((t - origin) * RatePerShard).toLong

  private def sync(tr: Tracer): SyncRec = {
    val head = headAt(Clock.now)
    val (s, e, b, ok, span) =
      timedSync(tr)(CdcStream.runAvailableNow(spark, rc.copy(endSeq = Some(head))))
    val rec = SyncRec(s, e, Shards * (head - committed), committed, head, b, ok, span)
    if (ok) committed = head
    rec
  }

  /** The window's first sync is the first on a populated table: it warms
    * the survivor rewrite and is not measured. Measured syncs start within
    * `seconds` after it.
    */
  def window(seconds: Double, tr: Tracer): WindowRec = {
    val primer = sync(Tracer.off)
    val w0 = Clock.now
    val firstBatch = new LakeTable(rc.tableRoot, spark).summaryValue("batch:default")
      .map(_.toLong + 1).getOrElse(0L)
    val syncs = ArrayBuffer.empty[SyncRec]
    var overrun = false
    var failed = !primer.ok
    while ((Clock.now - w0 < seconds || syncs.size < Workload.MinSyncs) &&
        !overrun && !failed) {
      if (headAt(Clock.now) > endPos) overrun = true
      else {
        syncs += sync(tr)
        failed = !syncs.last.ok
      }
    }
    val walls = if (tr.enabled) sidecarWalls(rc.tableRoot, firstBatch) else Nil
    WindowRec(tr.enabled, "open", w0, Clock.now, syncs.toSeq, origin = origin, p0 = p0,
      ratePerShard = RatePerShard, shards = Shards, endPos = endPos, overrun = overrun,
      applyBatchS = walls)
  }

  def tables: Seq[Synced] =
    Seq(Synced(new LakeTable(rc.tableRoot, spark), Check.prefix(gen, committed), "repo_content"))

  /** Checks the table against the oracle of the changelog up to the head
    * the last sync committed.
    */
  def check(): Seq[Verdict] = tables.flatMap { s =>
    Seq(Check.typedRows(spark, s), Check.cursors(s), Check.metrics(spark, s, "default"))
  }
}

/** One `runCatalogOutcomes` over small wire-typed streams (raw MySQL
  * strings normalized in staging) in fixed-size micro-batches, several
  * streams at once in FAIR pools; closed loop, one catalog sync at a time,
  * each into fresh tables.
  */
final class Catalog(spark: SparkSession, work: Path, seed: Long)
    extends Workload(spark, work) {
  val name = "catalog"
  val Streams = 8
  val Concurrency = 4
  val EventsPerStream = 6000L
  val BatchEvents = 3000L
  val Buckets = 4
  val catalog: ConfiguredCatalog = ConfiguredCatalog((0 until Streams).map(i =>
    ConfiguredStream(s"profile$i", s"ks$i", "incremental")))

  def genFor(s: ConfiguredStream): GenConfig = GenConfig(
    seed = seed * 1009 + s.namespace.stripPrefix("ks").toLong,
    numEvents = EventsPerStream, numShards = 2, numRepos = 200, pathsPerRepo = 50,
    keyspace = s.namespace, copyRows = EventsPerStream / 10, contentBlocks = 4)

  private var last: Option[Path] = None

  private def streamRc(dir: Path, s: ConfiguredStream, endPos: Option[Long]): RunConfig =
    rcAt(dir.resolve(s.namespace), genFor(s), Buckets).copy(
      maxEventsPerTrigger = Some(BatchEvents), endSeq = endPos, wirePayload = true)

  def probeRc: RunConfig = streamRc(work.resolve("probe"), catalog.streams.head, None)

  private def sync(tr: Tracer, endPos: Option[Long]): SyncRec = {
    last.foreach(dropDir)
    val dir = freshDir(name)
    last = Some(dir)
    var complete = true
    val (s, e, b, ok, span) = timedSync(tr) {
      val out = CdcStream.runCatalogOutcomes(spark, catalog, streamRc(dir, _, endPos),
        maxConcurrentStreams = Concurrency)
      complete = out.size == Streams && out.values.forall(!_.partial)
      out.values.map(_.batches).sum
    }
    val events = catalog.streams.map { s =>
      Check.events(endPos.fold(genFor(s))(Check.prefix(genFor(s), _)))
    }.sum
    SyncRec(s, e, events, 0L, 0L, b, ok && complete, span)
  }

  /** Creates every stream's table and applies its first micro-batch. */
  def setupPass(): Unit = {
    val shards = genFor(catalog.streams.head).numShards
    sync(Tracer.off, Some(BatchEvents / shards))
  }

  def window(seconds: Double, tr: Tracer): WindowRec = {
    val w0 = Clock.now
    val syncs = ArrayBuffer.empty[SyncRec]
    val walls = ArrayBuffer.empty[Double]
    while (Clock.now - w0 < seconds) {
      syncs += sync(tr, None)
      if (tr.enabled) tables.foreach(t => walls ++= sidecarWalls(t.table.root, 0L))
    }
    WindowRec(tr.enabled, "closed", w0, Clock.now, syncs.toSeq, applyBatchS = walls.toSeq)
  }

  def tables: Seq[Synced] = last.toSeq.flatMap(d => catalog.streams.map(s =>
    Synced(new LakeTable(streamRc(d, s, None).tableRoot, spark), genFor(s), s.name)))

  def check(): Seq[Verdict] = {
    val ts = tables
    Check.wireRows(spark, ts) +: ts.flatMap { s =>
      val stream = catalog.streams.find(_.name == s.streamName).get
      Seq(Check.cursors(s), Check.metrics(spark, s, stream.stateKey))
    }
  }
}
