package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import scala.collection.mutable
import graft.index._
import graft.search.GraftSearcher

/** State shared by one benchmark run: the session, the tracer, every
  * measured series, and the attempted / failed operation counts. */
final class Run(val args: Args, val spark: SparkSession, val tracer: Tracer) {
  val metrics = new Metrics
  val searches = new Searches(tracer, metrics)
  val base: Long = Inputs.base(args.seed)
  var attempted = 0L
  var failed = 0L
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty[String]

  def work(sub: String): String = s"${args.work}/$sub"

  /** Count one checked operation; a wrong output is a failed one. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (problems.size < 20) problems += what
    }
  }

  private var lastMark = args.launchedMs

  /** Record the set-up step that ends now (`setup.<step>_s`). */
  def mark(step: String): Unit = {
    val now = System.currentTimeMillis()
    metrics.add(s"setup.${step}_s", "s", "median", (now - lastMark) / 1000.0)
    lastMark = now
  }

  private var steal: StealMeter = _

  /** Set-up ends here: process launch to the first timed operation. */
  def setupDone(): Unit = {
    mark("rest")
    metrics.add("setup_s", "s", "median", (System.currentTimeMillis() - args.launchedMs) / 1000.0)
    steal = new StealMeter
  }

  /** The timed section runs until `--seconds` have passed and at least
    * `minOps` operations are done. */
  def running(t0: Long, ops: Int, minOps: Int): Boolean =
    ops < minOps || (System.nanoTime() - t0) / 1e9 < args.seconds

  /** End of the timed section: the hypervisor's steal share over it, and
    * the used heap after a full GC. */
  def timedDone(): Unit = {
    steal.share().foreach(v => metrics.add("host.steal_share", "share", "median", v))
    // a few GCs apart, so references Spark's context cleaner drops after the
    // first one are collected too
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(100) }
    val rt = Runtime.getRuntime
    metrics.add("heap_retained_mb", "MB", "median", (rt.totalMemory() - rt.freeMemory()) / 1048576.0)
  }

  /** One `buildAndCommit` + `open` of `files` into the fresh `dir`, traced
    * as an `index.build` and an `index.open` span. Records the build's
    * per-layer samples when `record` and tracing are both on. */
  def build(files: Dataset[CodeFile], dir: String, record: Boolean): (GraftIndex, SegmentMeta, Double) = {
    val ((m, idx), ms) = Clock.ms {
      val m = tracer.span("index.build")(IndexStore.buildAndCommit(files, dir))
      (m, tracer.span("index.open")(IndexStore.open(spark, dir)))
    }
    val seg = m.segments.last
    if (record && tracer.on) {
      val spans = tracer.spans.takeRight(2)
      metrics.build(spans(0), spans(1), seg, codecOf(dir, seg.name))
    }
    (idx, seg, ms)
  }

  /** (postings, summed encode-task ms, postings bytes) from the segment's
    * persisted per-task build metrics. */
  def codecOf(dir: String, segName: String): Option[(Long, Long, Long)] = {
    import spark.implicits._
    val rows = spark.read.parquet(s"$dir/$segName/buildmetrics").as[TaskBuildMetric].collect()
    if (rows.isEmpty) None
    else Some((rows.map(_.nPostings).sum, rows.map(_.elapsedMs).sum,
      Dirs.bytes(s"$dir/$segName/postings")))
  }

  def checkIndex(dir: String, what: String): Unit = {
    val rep = CheckIndex.check(spark, dir)
    check(rep.clean, s"CheckIndex after $what: ${rep.problems.take(3).mkString("; ")}")
  }
}

object Workloads {
  /** Corpus size of every workload's index (see README for the sizing). */
  val Docs = 10000
  /** Timed builds per `build` run at least, so the median has samples
    * enough to stay put when a few builds are slowed down. */
  val MinBuilds = 10
  /** Staged parquet files per input table. */
  val Parts = 8

  def stageCorpus(r: Run): (Dataset[CodeFile], Long) = {
    val files = Inputs.stage(r.spark, r.work("corpus"), r.base, Docs, Parts)
    val bytes = Inputs.contentBytes(files)
    r.mark("stage")
    (files, bytes)
  }

  /** `build`: repeated full builds of the staged corpus into fresh dirs.
    * Traced, it also runs the near-real-time tail ([[nrt]]) on the last
    * build and the 1-slot [[ladder]]. */
  def build(r: Run): Unit = {
    import r._
    val (files, inputBytes) = stageCorpus(r)
    // untimed warm-up: the first build after a cold start runs 1.5-2x
    // slower than later ones while the JIT compiles. The next one or two are
    // still a little slow; the median over MinBuilds absorbs them
    r.build(files, work("warmup"), record = false)
    Dirs.delete(work("warmup"))
    setupDone()

    val t0 = System.nanoTime()
    val segs = mutable.ArrayBuffer.empty[SegmentMeta]
    var i = 1
    while (running(t0, i - 1, MinBuilds)) {
      val dir = work(s"build-$i")
      val (_, seg, ms) = r.build(files, dir, record = true)
      metrics.add("op_ms", "ms", "median", ms)
      metrics.add("work_per_s", "1/s", "median", Docs / (ms / 1000.0))
      metrics.add("index_bytes_per_input_byte", "B/B", "median", Dirs.bytes(s"$dir/${seg.name}").toDouble / inputBytes)
      segs += seg
      if (i > 1) Dirs.delete(work(s"build-${i - 1}"))
      i += 1
    }
    timedDone()
    // every build read the same input: all must have the same segment
    // stats, and the last must pass CheckIndex and answer the graft.Bench
    // search shapes as the oracle does
    val last = work(s"build-${i - 1}")
    segs.foreach(seg => check(seg.copy(name = segs.last.name) == segs.last,
      s"segment $seg differs from the last build's ${segs.last}"))
    checkIndex(last, s"build ${i - 1}")
    val idx = IndexStore.open(spark, last)
    val want = Oracle.answers(spark, idx, QueryMix.smoke.map(_.text))
    val s = new GraftSearcher(idx)
    QueryMix.smoke.foreach { q =>
      check(Oracle.agrees(searches.run(s, q, "smoke")._1, want(q.text), q.k),
        s"smoke '${q.text}' differs from bruteForce")
    }
    metrics.alias("build_docs_per_s", "work_per_s", "median")
    if (tracer.on) {
      nrt(r, last, stageBatches(r, MergeEvery), "tail", minRounds = MergeEvery)
      ladder(r)
    }
  }

  /** Traced `build` only: the same build at 1 task slot, so each phase's
    * 1 -> nproc efficiency can be read against the nproc builds above. */
  private def ladder(r: Run): Unit = {
    val phases = Seq("docid" -> "index.docid_attach", "analyze" -> "analysis.analyze",
      "encode" -> "index.encode", "stats" -> "index.stats")
    val nWall = phases.map { case (p, series) => p -> r.metrics.series(s"$series.wall_ms").value }.toMap
    val nBuild = r.metrics.series("op_ms").value
    r.spark.stop()
    val one = Session.start(1, r.args.work)
    val tracer = new Tracer(one.sparkContext, on = true)
    import one.implicits._
    val files = one.read.parquet(r.work("corpus")).as[CodeFile]
    val (_, wall1) = Clock.ms(tracer.span("index.build")(IndexStore.buildAndCommit(files, r.work("ladder-1"))))
    val b = tracer.spans.last
    r.metrics.add("ladder.build_1slot_ms", "ms", "median", wall1)
    r.metrics.add("ladder.build_nslot_ms", "ms", "median", nBuild)
    r.metrics.add("ladder.build.efficiency", "share", "median", wall1 / (nBuild * Session.Slots))
    phases.foreach { case (p, _) =>
      val w1 = b.phaseWallMs(p)
      r.metrics.add(s"ladder.$p.wall_ms_1slot", "ms", "median", w1)
      r.metrics.add(s"ladder.$p.busy_ms_1slot", "ms", "median", b.inPhase(p).map(_.busyMs).sum.toDouble)
      if (nWall(p) > 0) r.metrics.add(s"ladder.$p.efficiency", "share", "median", w1 / (nWall(p) * Session.Slots))
    }
    one.stop()
  }

  /** `query` and `rare`: one client, closed loop, over a single-segment
    * index. `query` mixes the repeated head queries (term-stats cache hits)
    * with never-repeated rare-term lookups; `rare` (`withHead` false) runs
    * only the lookups, so every query misses the cache and plans with a job. */
  def query(r: Run, withHead: Boolean): Unit = {
    import r._
    val (files, inputBytes) = stageCorpus(r)
    val (idx, seg, _) = r.build(files, work("index"), record = true)
    mark("index")
    metrics.add("index_bytes_per_input_byte", "B/B", "median",
      Dirs.bytes(work(s"index/${seg.name}")).toDouble / inputBytes)
    val searcher = new GraftSearcher(idx)
    val heads = if (withHead) QueryMix.head else Nil
    val want = mutable.Map.empty[String, Array[ScoreDoc]]
    want ++= Oracle.answers(spark, idx, heads.map(_._2))
    mark("oracle")
    if (withHead) QueryMix.primeHead(searcher)
    QueryMix.smoke.take(2).foreach(q => searcher.search(q.text, q.k)) // JIT warm-up
    val stream = QueryMix.stream(args.seed, 1, base, Docs, heads)
    setupDone()

    val t0 = System.nanoTime()
    val done = mutable.ArrayBuffer.empty[(BenchQuery, Array[ScoreDoc])]
    // whole blocks only, so every run times the same query mix
    while (running(t0, done.size, 100) || done.size % QueryMix.Block != 0) {
      val q = stream.next()
      val (hits, ms) = searches.run(searcher, q, "query")
      metrics.add("op_ms", "ms", "median", ms)
      metrics.add(s"query.${q.shape}_ms", "ms", "median", ms)
      done += ((q, hits))
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    metrics.add("work_per_s", "1/s", "median", done.size / seconds)
    timedDone()
    want ++= Oracle.answers(spark, idx, done.map(_._1.text).filterNot(want.contains).toSeq)
    done.foreach { case (q, hits) =>
      check(Oracle.agrees(hits, want(q.text), q.k), s"query '${q.text}' k=${q.k} differs from bruteForce")
    }
    if (withHead) {
      metrics.alias("query_p50_ms", "op_ms", "median")
      metrics.alias("query_p90_ms", "op_ms", "p90")
      metrics.alias("query_qps", "work_per_s", "median")
    }
  }

  /** Update batch shape: docs per round, of which `Replaced` keep a corpus
    * key with new content; merges every `MergeEvery` rounds. */
  val Batch = 2500
  val Replaced = 1000
  val Burst = 6
  val MergeEvery = 3
  /** Merge policy small enough to fire on this index: two segments per tier. */
  val Policy: TieredPolicy = TieredPolicy(segsPerTier = 2)

  /** `update`: single-writer near-real-time loop on a fresh build of the
    * corpus. Its op is a query on the changing multi-segment index. */
  def update(r: Run): Unit = {
    import r._
    val (files, _) = stageCorpus(r)
    r.build(files, work("index"), record = true)
    mark("index")
    val batches = stageBatches(r, math.max(MergeEvery, args.seconds / 2))
    mark("batches")
    setupDone()
    nrt(r, work("index"), batches, "update", minRounds = 3)
    timedDone()
    metrics.alias("op_ms", "update_query_ms", "median")
    metrics.alias("work_per_s", "update_docs_per_s", "median")
    metrics.alias("index_bytes_per_input_byte", "update_bytes_per_input_byte", "median")
  }

  /** Stage `rounds` update batches; returns their dir and content bytes. */
  private def stageBatches(r: Run, rounds: Int): (String, Array[Long]) = {
    val dir = r.work("batches")
    (dir, Inputs.stageBatches(r.spark, dir, r.args.seed, rounds, r.base, Docs, Batch, Replaced, Parts))
  }

  /** Near-real-time rounds on the index at `dir`: each round commits a
    * seeded batch with `updateDocs`, reopens (open + new searcher + first
    * query = refresh), runs a query burst, and checks every answer against
    * the oracle on that commit point; every `MergeEvery` rounds a tiered
    * merge runs and `CheckIndex` checks the result. Runs at most `rounds`
    * rounds (one per staged batch), and stops after `--seconds` once
    * `minRounds` are done. */
  private def nrt(r: Run, dir: String, batches: (String, Array[Long]), streamSalt: String, minRounds: Int): Unit = {
    import r._
    val (batchDir, batchBytes) = batches
    val rounds = batchBytes.length
    val stream = QueryMix.stream(args.seed, streamSalt.hashCode, base, Docs)
    val t0 = System.nanoTime()
    var round = 0
    var committedDocs = 0L
    var loopMs = 0.0
    var writtenBytes = 0.0
    var commitBytes = 0.0
    while (running(t0, round, minRounds) && round < rounds) {
      val batch = Inputs.batch(spark, batchDir, round)
      val (m, commitMs) = Clock.ms(tracer.span("index.update")(IndexStore.updateDocs(batch, dir)))
      val seg = m.segments.last
      if (tracer.on) {
        val u = tracer.spans.last
        val deleteMs = u.phaseWallMs("delete") + u.phaseWallMs("open")
        metrics.add("index.update.delete_ms", "ms", "median", deleteMs)
        metrics.add("index.update.segment_ms", "ms", "median", u.wallMs - deleteMs)
      }
      val segBytes = Dirs.bytes(s"$dir/${seg.name}").toDouble
      commitBytes += segBytes
      writtenBytes += segBytes
      metrics.add("update_bytes_per_input_byte", "B/B", "median", segBytes / batchBytes(round))
      committedDocs += Batch
      metrics.add("update_commit_ms", "ms", "median", commitMs)

      val qs = Seq.fill(Burst + 1)(stream.next())
      val ((idx, searcher, first), refreshMs) = Clock.ms {
        val idx = tracer.span("index.refresh")(IndexStore.open(spark, dir))
        val s = new GraftSearcher(idx)
        (idx, s, searches.run(s, qs.head, "refresh")._1)
      }
      if (tracer.on) metrics.add("index.refresh.open_ms", "ms", "median", tracer.named("index.refresh").last.wallMs)
      metrics.add("index.segments", "count", "median", m.segments.size)
      metrics.add("refresh_ms", "ms", "median", refreshMs)
      val got = first +: qs.tail.map { q =>
        val (hits, ms) = searches.run(searcher, q, "update")
        metrics.add("update_query_ms", "ms", "median", ms)
        hits
      }
      loopMs += commitMs + refreshMs
      // expected answers on the same commit point the timed queries saw
      val want = Oracle.answers(spark, idx, qs.map(_.text))
      qs.zip(got).foreach { case (q, hits) =>
        check(Oracle.agrees(hits, want(q.text), q.k), s"round $round '${q.text}' k=${q.k} differs from bruteForce")
      }
      round += 1
      if (round % MergeEvery == 0) {
        val before = IndexStore.readManifest(dir).get.segments.map(_.name).toSet
        val (after, mergeMs) = Clock.ms(tracer.span("index.merge")(SegmentMerger.compactTiered(spark, dir, IndexConfig(), Policy)))
        val rewritten = after.segments.filterNot(s => before(s.name))
          .map(s => Dirs.bytes(s"$dir/${s.name}")).sum.toDouble
        writtenBytes += rewritten
        loopMs += mergeMs
        metrics.add("merge_ms", "ms", "sum", mergeMs)
        metrics.add("index.merge.bytes_rewritten", "B", "median", rewritten)
        checkIndex(dir, s"merge after round $round")
      }
    }
    metrics.add("update_docs_per_s", "1/s", "median", committedDocs / (loopMs / 1000.0))
    if (commitBytes > 0) metrics.add("index.write_amplification", "x", "median", writtenBytes / commitBytes)
    metrics.alias("update_commit_p50_ms", "update_commit_ms", "median")
    metrics.alias("refresh_p50_ms", "refresh_ms", "median")
    metrics.alias("update_query_p50_ms", "update_query_ms", "median")
    metrics.series.get("merge_ms").foreach(s => metrics.add("merge_s", "s", "median", s.xs.sum / 1000.0))
  }
}
