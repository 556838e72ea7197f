package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.fixtures.CodeCorpus
import graft.index.CodeFile

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> [--launched-ms <epoch ms>] [--spans <file>]`. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: String,
    launchedMs: Long,
    /** Where the traced run writes its spans, one JSON line each. */
    spans: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"),
      m.get("launched-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      m.get("spans"))
  }
}

object Session {
  /** Task slots of a benchmark session: one per core. */
  val Slots: Int = Runtime.getRuntime.availableProcessors()

  /** Local session with `slots` task slots, every scratch path under `work`,
    * and status-store retention capped so a long query stream does not
    * grow the driver's heap by itself. */
  def start(slots: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "5000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Order statistics over one metric's samples. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    // linear interpolation between closest ranks (numpy's default)
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def p90(xs: Seq[Double]): Double = quantile(xs, 0.9)
}

object Clock {
  def ms[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** Seeded benchmark inputs. Documents are `CodeCorpus.fileFor(i)` over a
  * window of the corpus index space chosen by the seed, so every seed keeps
  * the FIXTURES.md token mix but sees other documents, other rare tokens
  * and other update batches. Inputs are staged to parquet before anything
  * is timed; the engine only ever reads the staged files. */
final case class BatchRow(
    round: Int, repo: String, path: String, commit: String, lang: String,
    content: String, sha256: String)

object Inputs {
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** First corpus index of the seed's window (windows are 2^24 apart). */
  def base(seed: Long): Long = (mix(seed) & 0xFFFFFL) << 24

  def rng(seed: Long, stream: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(mix(seed * 31 + stream))

  /** Stage docs `[from, from + n)` as `parts` parquet files. */
  def stage(spark: SparkSession, dir: String, from: Long, n: Int, parts: Int): Dataset[CodeFile] = {
    import spark.implicits._
    spark.range(from, from + n, 1L, parts).map(i => CodeCorpus.fileFor(i))
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).as[CodeFile]
  }

  /** All update batches in one parquet table partitioned by `round`. Each
    * batch holds `replaced` docs that keep the key (repo, path, commit) of a
    * corpus doc but carry new content, plus `n - replaced` new files after
    * the corpus window. Keys within a batch are distinct: the replaced keys
    * walk the corpus with a stride coprime to its size. Returns each
    * round's content bytes. */
  def stageBatches(
      spark: SparkSession, dir: String, seed: Long, rounds: Int,
      corpusBase: Long, corpusN: Int, n: Int, replaced: Int, parts: Int): Array[Long] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    spark.range(0L, rounds.toLong * n, 1L, parts).map { x =>
      val round = (x / n).toInt
      val j = x % n
      val f =
        if (j < replaced) {
          val start = math.floorMod(mix(seed ^ (round.toLong << 40)), corpusN.toLong)
          val key = CodeCorpus.fileFor(corpusBase + (start + j * 7919L) % corpusN)
          val content = CodeCorpus.contentFor(corpusBase + (1L << 23) + x)
          key.copy(content = content, sha256 = graft.index.IndexBuilder.sha256Hex(content))
        } else CodeCorpus.fileFor(corpusBase + corpusN + x)
      BatchRow(round, f.repo, f.path, f.commit, f.lang, f.content, f.sha256)
    }.write.mode("overwrite").partitionBy("round").parquet(dir)
    val bytes = spark.read.parquet(dir).groupBy("round")
      .agg(sum(octet_length(col("content")))).as[(Int, Long)].collect().toMap
    Array.tabulate(rounds)(bytes)
  }

  def batch(spark: SparkSession, dir: String, round: Int): Dataset[CodeFile] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/round=$round").as[CodeFile]
  }

  def contentBytes(files: Dataset[CodeFile]): Long = {
    import org.apache.spark.sql.functions._
    files.agg(coalesce(sum(octet_length(col("content"))), lit(0L))).head().getLong(0)
  }
}

object Dirs {
  def bytes(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return 0L
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  def delete(dir: String): Unit = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally s.close()
  }
}

/** Share of CPU time the hypervisor took away (steal) since `from`, from
  * the `cpu` line of /proc/stat where the host has one. On a shared virtual
  * machine this is what moves timings from run to run. */
final class StealMeter {
  private def read(): Option[Array[Long]] = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) None
    else Files.readAllLines(f).toArray(new Array[String](0)).find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong))
  }
  private val from = read()
  def share(): Option[Double] = for (a <- from; b <- read() if b.length > 7) yield {
    val d = b.zip(a).map { case (x, y) => x - y }
    val total = d.take(8).sum
    if (total > 0) d(7).toDouble / total else 0.0
  }
}

/** Host record kept with every run: the three calibration probes of
  * `graft.Bench` (cpu loop, fresh-heap fault path, 128 MB write + fsync),
  * measured the same way but written to the run's own work directory. */
object Host {
  def probe(work: String): Map[String, Double] = {
    val fault = {
      val t0 = System.nanoTime()
      val arr = new Array[Long](64 << 20)
      var acc = 0L
      var i = 0
      while (i < arr.length) { arr(i) = i * 0x9E3779B97F4A7C15L; acc ^= arr(i); i += 1 }
      if (acc == 42L) print("")
      (System.nanoTime() - t0) / 1e9
    }
    val cpu = {
      val t0 = System.nanoTime()
      var h = 0x123456789L
      var i = 0
      while (i < (1 << 27)) { h = h * 6364136223846793005L + 1442695040888963407L; i += 1 }
      if (h == 42L) print("")
      (System.nanoTime() - t0) / 1e9
    }
    val disk = {
      val chunk = Array.tabulate[Byte](1 << 20)(_.toByte)
      val f = Paths.get(work, "calib-disk.bin").toFile
      val t0 = System.nanoTime()
      val os = new java.io.FileOutputStream(f)
      try {
        var i = 0
        while (i < 128) { os.write(chunk); i += 1 }
        os.getFD.sync()
      } finally os.close()
      val sec = (System.nanoTime() - t0) / 1e9
      f.delete()
      sec
    }
    Map("calib_cpu_s" -> cpu, "calib_fault_s" -> fault, "calib_disk_s" -> disk,
      "nproc" -> Runtime.getRuntime.availableProcessors().toDouble,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0)
  }
}
