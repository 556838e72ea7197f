package perfbench

import java.util.concurrent.{Callable, Executors}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import graft.fixtures.CodeCorpus
import graft.index.{GraftIndex, ScoreDoc}
import graft.search.{BoolQ, GraftSearcher}

final case class BenchQuery(shape: String, text: String, k: Int)

/** The seeded query stream. */
object QueryMix {

  /** Repeated head queries, two per shape: the `graft.Bench` shapes plus
    * high-df AND, prefix and NOT. */
  val head: Seq[(String, String)] = Seq(
    "term" -> "indexwriter", "term" -> "similarity",
    "and" -> "indexwriter AND mergepolicy", "and" -> "segment AND buffer AND codec",
    "or" -> "parsequery OR mergepolicy", "or" -> "analyzer OR tokenstream OR directory",
    "phrase" -> "\"return import\"", "phrase" -> "\"indexwriter segment\"",
    "skewed_or" -> "if OR return OR import", "skewed_or" -> "the OR def OR val",
    "highdf_and" -> "if AND return", "highdf_and" -> "import AND class AND new",
    "prefix" -> "merge*", "prefix" -> "doc*",
    "not" -> "indexwriter AND NOT mergepolicy", "not" -> "segment AND NOT if")

  /** The `graft.Bench` search shapes, used to check every built index. */
  val smoke: Seq[BenchQuery] = Seq(
    BenchQuery("term", "indexwriter", 10),
    BenchQuery("and", "indexwriter AND mergepolicy", 10),
    BenchQuery("or", "parsequery OR mergepolicy OR segment", 10),
    BenchQuery("phrase", "\"return import\"", 10),
    BenchQuery("skewed_or", "if OR return OR import", 10))

  /** A `uniq_tok_<i>_<w>` token that occurs in doc i, if any. */
  def rareToken(i: Long): Option[String] =
    CodeCorpus.contentFor(i).split("\\s+").find(_.startsWith("uniq_tok_"))

  /** Endless seeded stream over docs `[base, base + n)`, in blocks of 20
    * with a fixed mix so every seed times the same shapes: each block holds
    * the `heads` queries once (they repeat block after block) and fills up
    * with rare-token lookups that never repeat, in seeded order; 3 queries
    * of each block ask for k=100, the rest for k=10. */
  val Block = 20

  def stream(seed: Long, salt: Long, base: Long, n: Int,
      heads: Seq[(String, String)] = head): Iterator[BenchQuery] = {
    val r = Inputs.rng(seed, salt)
    val used = mutable.HashSet.empty[Long]
    def rare(): String = {
      var tok: Option[String] = None
      while (tok.isEmpty) {
        val i = base + r.nextInt(n)
        if (used.add(i)) tok = rareToken(i)
      }
      tok.get
    }
    def shuffled[T](xs: Seq[T]): Seq[T] = {
      val a = xs.toBuffer
      for (i <- a.indices.reverse) {
        val j = r.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq
    }
    Iterator.continually {
      val texts = heads ++ Seq.fill(Block - heads.size)(("rare", rare()))
      val ks = shuffled(Seq.fill(3)(100) ++ Seq.fill(texts.size - 3)(10))
      shuffled(texts).zip(ks).map { case ((shape, text), k) => BenchQuery(shape, text, k) }
    }.flatten
  }

  /** Fill a searcher's term-stats cache for every head term in one lookup,
    * so head queries are cache hits from the first timed one on. */
  def primeHead(s: GraftSearcher): Unit =
    s.plan(BoolQ(should = head.map { case (_, t) => s.parse(t) }))
}

/** Expected answers from the engine's exhaustive oracle,
  * `GraftSearcher.bruteForce`, computed untimed on fresh searchers (never the
  * timed one, whose term-stats cache must stay as the workload left it). */
object Oracle {
  val K = 100

  def answers(spark: SparkSession, index: GraftIndex, texts: Seq[String]): Map[String, Array[ScoreDoc]] = {
    val pool = Executors.newFixedThreadPool(4)
    try {
      texts.distinct.map { t =>
        t -> pool.submit(new Callable[Array[ScoreDoc]] {
          override def call(): Array[ScoreDoc] = {
            spark.sparkContext.clearJobGroup()
            val o = new GraftSearcher(index)
            o.bruteForce(o.parse(t), K)
          }
        })
      }.map { case (t, f) => t -> f.get() }.toMap
    } finally pool.shutdown()
  }

  /** Same docIds and bit-identical Float scores, in the same order. */
  def agrees(got: Array[ScoreDoc], want: Array[ScoreDoc], k: Int): Boolean =
    got.toSeq == want.take(k).toSeq
}

/** Runs one timed query. Untraced it is the public one-call path,
  * `search(parse(text), k)`. Traced, the layers run one by one, each in its
  * own span: parse, plan (term stats), and execute, the public
  * `search(parsed, k)` on the now-planned query (a stats-cache hit, Dataset
  * construction, scatter, scoring, the top-k collect). Construction alone
  * (`searchDS` returns, before any job runs) is timed after the query, in
  * a span of its own outside the query's: it is a part of execute. */
final class Searches(tracer: Tracer, metrics: Metrics) {

  def run(s: GraftSearcher, q: BenchQuery, label: String): (Array[ScoreDoc], Double) = {
    val d0 = s.counters.decoded.value
    val k0 = s.counters.skipped.value
    if (!tracer.on) {
      val r = Clock.ms(s.search(s.parse(q.text), q.k))
      metrics.search(label, q.shape, s.counters.decoded.value - d0, s.counters.skipped.value - k0, None)
      return r
    }
    val (parsed, hits) = tracer.span("search") {
      val parsed = tracer.span("search.parse")(s.parse(q.text))
      tracer.span("search.plan")(s.plan(parsed))
      (parsed, tracer.span("search.execute")(s.search(parsed, q.k)))
    }
    val outer = tracer.spans.last
    val kids = tracer.childrenOf(outer.id)
    tracer.span("search.construct")(s.searchDS(parsed, q.k))
    metrics.search(label, q.shape, s.counters.decoded.value - d0, s.counters.skipped.value - k0,
      Some((outer, kids, tracer.spans.last)))
    (hits, outer.wallMs)
  }
}
