package perfbench

import scala.collection.mutable
import graft.index.SegmentMeta

/** Named samples with a unit and how they reduce to one reported value. */
final class Series(val unit: String, val reduce: String) {
  val xs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty[Double]
  def value: Double = reduce match {
    case "median" => Stats.median(xs.toSeq)
    case "p90" => Stats.p90(xs.toSeq)
    case "mean" => xs.sum / xs.size
    case "sum" => xs.sum
  }
}

/** Every measured series of a run, end-to-end and per layer. Per-layer
  * series come from closed spans: build phases from the stages each span
  * ran (tagged by [[Phase]]), search layers from the query's child spans. */
final class Metrics {
  val series: mutable.LinkedHashMap[String, Series] = mutable.LinkedHashMap.empty[String, Series]

  def add(name: String, unit: String, reduce: String, v: Double): Unit =
    series.getOrElseUpdate(name, new Series(unit, reduce)).xs += v

  /** Report `from`'s samples under another name and reduction too. */
  def alias(name: String, from: String, reduce: String): Unit =
    series.get(from).foreach { s =>
      val a = series.getOrElseUpdate(name, new Series(s.unit, reduce))
      a.xs.clear()
      a.xs ++= s.xs
    }

  def ratio(name: String, unit: String, num: Double, den: Double): Unit =
    if (den > 0) add(name, unit, "median", num / den)

  private def phaseTotals(stages: Seq[StageRec]): (Double, Double, Double) =
    (stages.map(_.busyMs).sum.toDouble, stages.map(_.shuffleWriteBytes).sum.toDouble,
      stages.map(_.spillBytes).sum.toDouble)

  /** Per-layer samples of one traced `buildAndCommit` and the `open` after
    * it. A phase's wall time is the wall its SQL executions and bare jobs
    * cover; its busy time is its tasks' summed run time. */
  def build(b: Span, open: Span, seg: SegmentMeta, codec: Option[(Long, Long, Long)]): Unit = {
    val (dBusy, dShuffle, _) = phaseTotals(b.inPhase("docid"))
    add("index.docid_attach.wall_ms", "ms", "median", b.phaseWallMs("docid"))
    add("index.docid_attach.busy_ms", "ms", "median", dBusy)
    add("index.docid_attach.shuffle_write_bytes", "B", "median", dShuffle)
    val (aBusy, _, _) = phaseTotals(b.inPhase("analyze"))
    add("analysis.analyze.wall_ms", "ms", "median", b.phaseWallMs("analyze"))
    add("analysis.analyze.busy_ms", "ms", "median", aBusy)
    ratio("analysis.tokens_per_s", "1/s", seg.sumTotalTermFreq.toDouble, aBusy / 1000.0)
    val enc = b.inPhase("encode")
    val (eBusy, eShuffle, eSpill) = phaseTotals(enc)
    add("index.encode.wall_ms", "ms", "median", b.phaseWallMs("encode"))
    add("index.encode.busy_ms", "ms", "median", eBusy)
    add("index.encode.shuffle_write_bytes", "B", "median", eShuffle)
    add("index.encode.spill_bytes", "B", "median", eSpill)
    // skew of the encode stage that did the most work: max task / median task
    enc.filter(_.taskMs.nonEmpty).sortBy(-_.busyMs).headOption.foreach { s =>
      val med = Stats.median(s.taskMs.map(_.toDouble).toSeq)
      ratio("index.encode.task_skew", "x", s.taskMs.max.toDouble, med)
    }
    add("index.stats.wall_ms", "ms", "median", b.phaseWallMs("stats"))
    add("index.phase.other.wall_ms", "ms", "median", b.phaseWallMs("other"))
    add("index.open.wall_ms", "ms", "median", open.wallMs)
    ratio("build.utilization", "share", b.busyMs.toDouble, b.wallMs * Session.Slots)
    // the layers above against the build + open wall; what they leave out
    // is driver code between Spark calls (manifest, listings, commits)
    val layers = b.coveredMs + open.wallMs
    add("trace.build_layers_ms", "ms", "mean", layers)
    add("trace.build_unattributed_ms", "ms", "median", math.max(0.0, b.wallMs + open.wallMs - layers))
    add("trace.build_spans_per_wall", "share", "median", layers / (b.wallMs + open.wallMs))
    codec.foreach { case (postings, taskMs, postingsBytes) =>
      ratio("codec.postings_per_s", "1/s", postings.toDouble, taskMs / 1000.0)
      ratio("codec.bytes_per_posting", "B", postingsBytes.toDouble, postings.toDouble)
    }
  }

  /** Per-layer samples of one query. Block counters come from the
    * searcher's accumulators in both modes; span layers only when traced:
    * the query span's children (parse, plan, execute) and `construct`,
    * timed on its own after the query. */
  def search(label: String, shape: String, decoded: Long, skipped: Long,
      traced: Option[(Span, Seq[Span], Span)]): Unit = {
    for (scope <- Seq("search", s"search.$shape")) {
      add(s"$scope.blocks_decoded", "count", "mean", decoded.toDouble)
      add(s"$scope.blocks_skipped", "count", "mean", skipped.toDouble)
    }
    traced.foreach { case (outer, kids, construct) =>
      def kid(n: String): Option[Span] = kids.find(_.name == n)
      val all = outer +: kids
      for (scope <- Seq("search", s"search.$shape")) {
        Seq("parse", "plan", "execute").foreach { l =>
          kid(s"search.$l").foreach(s => add(s"$scope.${l}_ms", "ms", "mean", s.wallMs))
        }
        add(s"$scope.construct_ms", "ms", "mean", construct.wallMs)
        kid("search.plan").foreach(s => add(s"$scope.plan_jobs", "count", "mean", s.jobs))
        add(s"$scope.jobs", "count", "mean", all.map(_.jobs).sum.toDouble)
        add(s"$scope.tasks", "count", "mean", all.map(_.tasks).sum.toDouble)
        add(s"$scope.shuffle_bytes", "B", "mean", all.map(_.shuffleBytes).sum.toDouble)
        add(s"$scope.task_busy_ms", "ms", "mean", all.map(_.busyMs).sum.toDouble)
      }
      add("trace.search_unspanned_ms", "ms", "mean", math.max(0.0, outer.wallMs - kids.map(_.wallMs).sum))
      add("trace.search_spans_per_wall", "share", "mean", kids.map(_.wallMs).sum / outer.wallMs)
      if (label == "refresh") kid("search.plan").foreach(s => add("search.first_plan_ms", "ms", "median", s.wallMs))
    }
  }

  /** Skip ratio over every query of the run (blocks skipped whole on impact
    * metadata, over blocks considered). */
  def finishSearch(): Unit = {
    val keys = series.keys.filter(_.endsWith(".blocks_decoded")).toSeq
    keys.foreach { k =>
      val scope = k.stripSuffix(".blocks_decoded")
      val dec = series(k).xs.sum
      val skp = series.get(s"$scope.blocks_skipped").map(_.xs.sum).getOrElse(0.0)
      if (dec + skp > 0) add(s"$scope.skip_ratio", "share", "median", skp / (dec + skp))
    }
  }
}
