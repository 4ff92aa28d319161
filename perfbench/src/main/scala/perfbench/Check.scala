package perfbench

import graft.core.{ChangeEvent, RepoFile, SyncState, VGtid, WireTableSpec}
import graft.genlog.{ChangelogGen, EventGen, GenConfig, WireGen}
import graft.laketable.LakeTable
import graft.streaming.CdcStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One correctness verdict of the gate that runs after a timed window. */
final case class Verdict(name: String, ok: Boolean, detail: String)

/** A table and the changelog it was synced from, end to end. */
final case class Synced(table: LakeTable, gen: GenConfig, streamName: String)

/** Correctness gate: compares synced tables with the engine's independent
  * oracle ([[ChangelogGen.expectedFinalState]]), the committed per-shard
  * cursors with the changelog head, and the metrics sidecar with the events
  * applied. Never timed.
  */
object Check {

  def shards(c: GenConfig): Range = 0 until c.numShards

  /** Events of the changelog, copy phase included, over all shards. */
  def events(c: GenConfig): Long = shards(c).map(EventGen.totalPerShard(_, c)).sum

  /** The changelog that ends where every shard's position is `pos`: event
    * content does not depend on `numEvents`, so its oracle is the oracle of
    * that prefix of `c`'s changelog.
    */
  def prefix(c: GenConfig, pos: Long): GenConfig =
    c.copy(numEvents = c.numShards * (pos - EventGen.copyPerShard(c)))

  /** VGTID rank of the event at 1-based position `pos` of shard `i`: copy
    * rows share rank 1, catch-up event k has rank k + copyRankBase.
    */
  def rankAt(i: Int, c: GenConfig, pos: Long): Long = {
    val cp = EventGen.copyPerShard(c)
    if (pos <= cp) (if (pos > 0) 1L else 0L)
    else pos - cp + EventGen.copyRankBase(c)
  }

  /** Per-row `sha256(content)` of the table equals the oracle's, per
    * `(repo, path)`, with no key missing on either side.
    */
  def typedRows(spark: SparkSession, s: Synced): Verdict = {
    val got = s.table.read().select(col("repo"), col("path"),
      sha2(col("content"), 256).as("got"))
    val exp = ChangelogGen.expectedFinalState(spark, s.gen).select(col("repo"), col("path"),
      sha2(col("content"), 256).as("exp"))
    mismatches(s"rows:${s.gen.keyspace}", got.join(exp, Seq("repo", "path"), "full_outer"))
  }

  /** Wire streams: the table's key set equals the oracle's, and every row
    * equals the normalized landing (`WireTableSpec.normalizedLanding`) of
    * the wire image of its oracle winner. All streams are compared in one
    * job.
    */
  def wireRows(spark: SparkSession, streams: Seq[Synced]): Verdict = {
    import spark.implicits._
    val spec = WireTableSpec.repoProfile
    val keys = Seq("repo", "path")
    val values = spec.columns.map(_.name).filterNot(keys.contains)
    def rowHash(df: DataFrame) = sha2(to_json(struct(values.map(df(_)): _*)), 256)
    val parts = streams.map { s =>
      val schema = s.table.read().schema
      val got = s.table.read()
      val wire = ChangelogGen.expectedFinalState(spark, s.gen)
        .as[(String, String, String, String, String)]
        .map { case (repo, path, commit, lang, content) =>
          WireGen.fromEvent(ChangeEvent("", "", "", 0L, ChangeEvent.OpUpdate,
            None, Some(RepoFile(repo, path, commit, lang, content)), false, None, 1)).after.get
        }
      val landed = wire.select(spec.columns.map { c =>
        spec.normalizedLanding(c.name, col(c.name)).cast(schema(c.name).dataType).as(c.name)
      }: _*)
      val g = got.select(lit(s.gen.keyspace).as("stream") +: keys.map(col) :+
        rowHash(got).as("got"): _*)
      val e = landed.select(lit(s.gen.keyspace).as("stream") +: keys.map(col) :+
        rowHash(landed).as("exp"): _*)
      g.join(e, "stream" +: keys, "full_outer")
    }
    mismatches("wire_rows", parts.reduce(_ unionByName _))
  }

  private def mismatches(name: String, joined: DataFrame): Verdict = {
    val bad = col("got").isNull || col("exp").isNull || col("got") =!= col("exp")
    val r = joined.agg(count(lit(1)), sum(when(bad, 1L).otherwise(0L))).head()
    val (n, m) = (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L))
    Verdict(name, n > 0 && m == 0, s"$m of $n keys differ from the oracle")
  }

  /** Every committed shard cursor sits at the rank of the last event synced. */
  def cursors(s: Synced): Verdict = {
    val st = s.table.currentSnapshot.flatMap(_.summary.get("cursors"))
      .map(SyncState.fromJson).getOrElse(SyncState.empty)
    val key = s"${s.gen.keyspace}:${s.streamName}"
    val wrong = shards(s.gen).flatMap { i =>
      val shard = EventGen.shardName(s.gen.numShards, i)
      val want = rankAt(i, s.gen, EventGen.totalPerShard(i, s.gen))
      val got = st.cursorFor(key, shard).map(c => VGtid.rank(c.position)).getOrElse(0L)
      if (got == want) None else Some(s"$shard at $got, head $want")
    }
    Verdict(s"cursors:${s.gen.keyspace}", wrong.isEmpty,
      if (wrong.isEmpty) s"${s.gen.numShards} shards at head" else wrong.mkString("; "))
  }

  /** The metrics sidecar has one row per (batch, shard) for every committed
    * batch, and its rows sum to the events applied.
    */
  def metrics(spark: SparkSession, s: Synced, streamId: String): Verdict = {
    val m = CdcStream.readMetrics(spark, s.table.root)
      .agg(coalesce(sum("rows"), lit(0L)), countDistinct(col("batch_id"))).head()
    val rows = m.getLong(0)
    val batches = m.getLong(1)
    val committed = s.table.summaryValue(s"batch:$streamId").map(_.toLong + 1).getOrElse(0L)
    val want = events(s.gen)
    Verdict(s"metrics:${s.gen.keyspace}", rows == want && batches == committed,
      s"$rows rows over $batches batches; applied $want events in $committed batches")
  }
}
