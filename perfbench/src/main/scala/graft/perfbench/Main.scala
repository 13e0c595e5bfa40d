package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Registry, SingleFlight}
import graft.operators.WordCount

/** One benchmark workload in its own JVM: build the session, warm up,
  * then run a closed loop (one call at a time) of timed operations for
  * the given number of seconds. Every operation is timed from outside
  * graft, around calls into its public functions. The raw observations
  * go to a JSON file; metrics and correctness are computed from it by
  * `run.py`.
  *
  * Usage: Main --workload wordcount|query_mix --input DIR
  *   --out DIR --work DIR --result FILE --seconds S --trace 0|1
  *   --cores N --seed N
  */
object Main {

  final case class Opts(workload: String, input: String, out: String,
      work: String, result: String, seconds: Double, trace: Boolean,
      cores: Int, seed: Long)

  /** One timed operation. `calls` holds the seconds of each named call
    * into graft, including the action that completes it; `span` and
    * `sinkSpan` are epoch-ms intervals the trace report splits. `files`
    * counts the input files the operation's plans read (traced runs);
    * `firstLadder` marks the query mix's first dedup-ladder query of a
    * pass, the one that pays the shared builds. */
  final class Op(val name: String) {
    var wallS = 0.0
    var ok = true
    var error = ""
    var buildS = 0.0
    var listS = 0.0
    var sinkS = 0.0
    var sinkSpan = (0L, 0L)
    var span = (0L, 0L)
    var outDir = ""
    var files = 0
    var firstLadder = false
    val calls = ArrayBuffer.empty[(String, Double)]
    var engine: Option[EngineDelta] = None
  }

  private def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("input"), need("out"), need("work"),
      need("result"), need("seconds").toDouble, need("trace") == "1",
      need("cores").toInt, need("seed").toLong)
  }

  private def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    var spark = session(o)
    val setupEndMs = System.currentTimeMillis()
    log("session ready")
    val ops = ArrayBuffer.empty[Op]
    HeapWatch.start()
    val base = spark
    val runOp: Int => Op = o.workload match {
      case "wordcount" => wordCountOp(spark, o, _)
      case "query_mix" => i => {
        if (i >= 0 && i % QueryMix.size == 0) {
          // each timed pass over the mix in a new session (sharing the
          // SparkContext), so each pass pays the session-keyed shared
          // builds again
          tracer.foreach(_.detach())
          spark = base.newSession()
          tracer = tracer.map(_ => new Tracer(spark))
          tracer.foreach(_.attach())
        }
        queryMixOp(spark, o, i)
      }
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // Untimed warm-up, so the timed loop measures warmer code: a fixed
    // amount of work, four iterations or two passes over the query mix.
    // Its time is reported with the set-up.
    val (warmOps, step) =
      if (o.workload == "query_mix") (2 * QueryMix.size, QueryMix.size) else (4, 1)
    if (o.workload == "query_mix") {
      Files.createDirectories(Paths.get(o.out))
      Files.write(Paths.get(s"${o.out}/oracle.json"), Json.strings(
        queryMix.flatMap(q => q.oracle.map(q.name -> _))).getBytes(StandardCharsets.UTF_8))
    }
    val w0 = System.nanoTime()
    (-warmOps until 0).foreach(runOp)
    val warmUpS = (System.nanoTime() - w0) / 1e9
    log(s"warm-up: $warmOps operations")
    tracer = if (o.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    // whole steps (whole passes over the query mix) until the time is
    // up, and at least four of them
    val t0 = System.nanoTime()
    var i = 0
    while (i < 4 * step || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      (i until i + step).foreach(j => ops += runOp(j))
      i += step
    }
    tracer.foreach(_.detach())
    log(s"timed loop: ${ops.size} operations")
    Files.write(Paths.get(o.result),
      Json.result(setupEndMs, warmUpS, HeapWatch.peakBytes, o.cores, ops.toSeq)
        .getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def now(): Long = System.currentTimeMillis()

  private def log(msg: String): Unit =
    System.err.println(s"[perfbench] ${java.time.Instant.now()} $msg")

  /** Set in traced runs only. */
  private var tracer: Option[Tracer] = None

  /** Engine counters of the timed region just ended go to `op`; those of
    * untimed work (answer saving) are dropped with [[untimed]]. */
  private def engine(op: Op): Unit = op.engine = tracer.map(_.take())
  private def untimed(): Unit = tracer.foreach(_.take())

  private def timed[T](op: Op, name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    op.calls += name -> (System.nanoTime() - t0) / 1e9
    r
  }

  /** Runs `body` as the op's whole timed region; a failure marks the op
    * failed instead of ending the run. */
  private def run(op: Op)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    val s0 = now()
    try body catch {
      case NonFatal(e) =>
        op.ok = false
        op.error = s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" ")
    }
    op.wallS = (System.nanoTime() - t0) / 1e9
    op.span = (s0, now())
    engine(op)
    op
  }

  private def sink(op: Op)(f: => Unit): Unit = {
    val s0 = now()
    val t0 = System.nanoTime()
    f
    op.sinkS = (System.nanoTime() - t0) / 1e9
    op.sinkSpan = (s0, now())
  }

  /** Scan the corpus, WordCount.wordCount, then the TSV sink; the
    * `word_count` call spans both. */
  private def wordCountOp(spark: SparkSession, o: Opts, i: Int): Op = {
    val op = new Op(s"iter-$i")
    op.outDir = s"${o.out}/iter-$i"
    var docs: DataFrame = null
    run(op) {
      val t0 = System.nanoTime()
      docs = spark.read.text(s"${o.input}/corpus")
        .withColumnRenamed("value", "text")
      op.listS = (System.nanoTime() - t0) / 1e9
      timed(op, "word_count") {
        sink(op)(WordCount.writeTsv(WordCount.wordCount(docs), op.outDir))
      }
    }
    // untimed; it analyses the plan again but runs no job
    if (o.trace && op.ok) op.files = docs.inputFiles.length
    op
  }

  /** The query mix: graft's queries for the reference's log-analysis
    * chain over `events` (parse, sessionize, progress, stages, durations,
    * overlap), and three dedup-ladder queries that read its session-shared
    * shingle, signature and candidate builds; whichever of them runs
    * first in a session pays the builds. */
  val QueryMix: Seq[String] = Seq(
    "a1_monitor_parse", "a2_sessionize", "a3_progress_parse",
    "a5_stage_detect", "a7_durations", "a8_overlap", "g2_minhash_sig",
    "g2_minhash_pairs", "g21_lsh_bucket_census")

  private def isLadder(name: String): Boolean = name.startsWith("g")

  def queryMix: Seq[graft.Q] = {
    val byName = Registry.all.map(q => q.name -> q).toMap
    QueryMix.map(byName)
  }

  /** First-sample digests per query; a later sample must match. */
  private val firstDigest = scala.collection.mutable.Map.empty[String, String]

  /** The `i`-th query of a closed loop over the query mix, in an order
    * the seed and the pass number permute; the warm-up passes have
    * negative `i`. One operation ends when the query's rows are
    * collected. The first answer of each query is saved as parquet (the
    * oracle SQL is saved before the warm-up) for the DuckDB check; every
    * later answer must match it. */
  private def queryMixOp(spark: SparkSession, o: Opts, i: Int): Op = {
    val pass = Math.floorDiv(i, QueryMix.size)
    val order = new Random(o.seed * 1000003L + pass).shuffle(queryMix)
    val q = order(Math.floorMod(i, QueryMix.size))
    val op = new Op(q.name)
    // the ladder queries share the session's signature build (and
    // g2_minhash_pairs the candidate build on top of it); known from the
    // pass order, not from graft
    val k = Math.floorMod(i, QueryMix.size)
    op.firstLadder = isLadder(q.name) && !order.take(k).exists(p => isLadder(p.name))
    val b0 = SingleFlight.buildSecondsTotal
    var rows = Array.empty[org.apache.spark.sql.Row]
    var df: DataFrame = null
    run(op) {
      timed(op, "query") {
        df = q.run(spark, s"${o.input}/tables")
        if (o.trace) df.queryExecution.executedPlan
        // the rows collected to the client are this query's sink
        sink(op) { rows = df.collect() }
      }
    }
    op.buildS = SingleFlight.buildSecondsTotal - b0
    if (o.trace && op.ok) op.files = df.inputFiles.length
    if (op.ok) {
      val digest = Json.digest(rows.iterator.map(_.toString))
      firstDigest.get(q.name) match {
        case None =>
          firstDigest(q.name) = digest
          spark.createDataFrame(rows.toSeq.asJava, df.schema)
            .coalesce(1).write.mode("overwrite").parquet(s"${o.out}/${q.name}")
        case Some(d) if d != digest =>
          op.ok = false
          op.error = "answer differs from this query's first answer"
        case _ =>
      }
    }
    spark.catalog.clearCache()
    untimed()
    op
  }
}
