package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One measured operation of a workload's closed loop. */
final case class Op(name: String, ms: Double, ok: Boolean)

/** A named output check. */
final case class Check(name: String, ok: Boolean, detail: String = "")

/** One benchmark workload, driven by [[Main]]: set up, checked once, then
  * run pass after pass by a single client. */
trait Workload {
  /** Part of set-up: touch the inputs once on a fresh session. */
  def warm(spark: SparkSession): Unit
  /** Untimed, before the loop: checks that need no timed operation, and
    * the oracle SQL the caller compares the timed operations' results
    * with. */
  def check(spark: SparkSession): Seq[Check]
  /** One pass of operations; each operation's output is checked, here or
    * against the oracle after the run. */
  def pass(spark: SparkSession, rec: Recorder, pass: Int): Seq[Op]
  /** Traced runs only: direct calls into single layers. */
  def probe(spark: SparkSession, rec: Recorder): Map[String, Any] = Map.empty
  /** Numbers the run observed about its inputs and outputs. */
  def facts: Map[String, Any]
}

/** Entry point: `Main <workload> <inputDir> <workDir> <seconds> <trace 0|1> <seed>`.
  * Writes `result.json` (and, traced, `spans.jsonl`) into the work dir. */
object Main {

  /** Seconds one pass of either workload takes on a 4-CPU host. */
  private val NominalPassS = 40.0

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.flush()
        Runtime.getRuntime.halt(1)
    }

  private def run(args: Array[String]): Unit = {
    val Array(name, input, work, secondsS, traceS, seedS) = args
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val seed = seedS.toLong
    val workDir = Paths.get(work)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val w: Workload = name match {
      case "roster_star" =>
        new Composite(Seq(new RosterEtl(input, work), new StarMix(input, work, seed)))
      case "vector_graph" =>
        new Composite(Seq(new VectorSearch(input, work, seed), new GraphIter(input, work)))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up, three times: build a session and warm it on the inputs. The
    // first cycle also carries the JVM's boot and class loading, and is
    // reported on its own as `cold_s` (JVM start to warmed session); the
    // other two start from a stopped session. setup_s is the median of the
    // three, so it is a session set-up cost, not a JVM-boot outlier.
    val setups = ArrayBuffer[Map[String, Any]]()
    var spark: SparkSession = null
    for (cycle <- 0 until 3) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = graft.Sessions.build("perfbench")
      val t1 = System.nanoTime()
      w.warm(spark)
      val t2 = System.nanoTime()
      val cycle0 = if (cycle == 0) Seq("cold_s" -> (System.currentTimeMillis() - jvmStart) / 1e3)
        else Nil
      setups += (Map("total_s" -> (t2 - t0) / 1e9,
        "build_ms" -> (t1 - t0) / 1e6, "warm_ms" -> (t2 - t1) / 1e6) ++ cycle0)
    }
    val sc = spark.sparkContext
    def stamp(what: String): Unit = System.err.println(
      f"perfbench: $what at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s after JVM start")
    stamp("set-up done")

    val checks = w.check(spark)
    checks.filterNot(_.ok).foreach(c => System.err.println(s"CHECK FAILED ${c.name}: ${c.detail}"))
    reset(spark)
    stamp("checks done")

    // Whole passes, as many as `seconds` holds nominal passes (one at the
    // benchmark's setting). The count depends on the arguments only, never
    // on how fast the program runs, so a faster program measures the same
    // cold-to-warm mix as a slower one.
    val passes = math.max(1, math.round(seconds / NominalPassS).toInt)
    def loop(rec: Recorder): Seq[Op] =
      (0 until passes).flatMap { p =>
        val ops = w.pass(spark, rec, p)
        reset(spark)
        ops
      }

    // A traced run is the untraced run with tracing on: the same single
    // client loop from the same cold start, so the two runs differ by the
    // tracing alone. It also measures that difference directly, and runs
    // the workload's layer probes after the loop.
    var probes = Map.empty[String, Any]
    val allOps =
      if (!traced) loop(new Recorder(sc, traced = false))
      else {
        val overhead = tracingOverhead(spark)
        val rec = new Recorder(sc, traced = true)
        val r = loop(rec)
        rec.newOp()
        probes = w.probe(spark, rec) + ("trace.overhead_ratio" -> overhead)
        rec.dump(workDir.resolve("spans.jsonl"))
        r
      }

    stamp("loop done")
    val result = Json.obj(Seq(
      "workload" -> name,
      "master" -> sc.master,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "setup" -> setups.toSeq,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "ops" -> allOps.map(o => Map("name" -> o.name, "ms" -> o.ms, "ok" -> o.ok)),
      "passes" -> passes,
      "facts" -> w.facts,
      "probes" -> probes,
      "rss_hwm_kb" -> hwmKb()))
    Files.writeString(workDir.resolve("result.json"), result)
    // The caller deletes the work dir; a graceful Spark shutdown would only
    // add seconds to every run.
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(0)
  }

  /** Tracing's cost on the smallest Spark job: 40 runs of a one-stage
    * aggregate, alternately with a span and its listener and without,
    * interleaved so host noise falls on both sides alike. Returns the
    * traced median over the untraced median, minus one. */
  private def tracingOverhead(spark: SparkSession): Double = {
    val sc = spark.sparkContext
    def job(): Unit = spark.range(0, 100000, 1, 4).selectExpr("sum(id)").collect()
    (1 to 10).foreach(_ => job())
    val rec = new Recorder(sc, traced = true)
    sc.removeSparkListener(rec.counters)
    val plain = new Recorder(sc, traced = false)
    val on, off = ArrayBuffer[Double]()
    def tracedRun(): Unit = {
      sc.addSparkListener(rec.counters)
      try on += rec.span("overhead.probe")(job())._2
      finally sc.removeSparkListener(rec.counters)
    }
    for (i <- 0 until 40) {
      if (i % 2 == 0) { tracedRun(); off += plain.span("overhead.probe")(job())._2 }
      else { off += plain.span("overhead.probe")(job())._2; tracedRun() }
    }
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
    median(on.toSeq) / median(off.toSeq) - 1
  }

  /** Drop every cached plan and persisted RDD (ReferenceEtl's cached
    * `resolved`, Similarity's memos, localCheckpoint blocks) so the next
    * pass measures a cold engine, not a cache hit. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Time one operation; a throw or a failed output check fails it. */
  def op(rec: Recorder, name: String)(body: => Boolean): Op = {
    rec.newOp()
    try {
      val (ok, ms) = rec.span(name)(body)
      System.err.println(f"op $name%-28s $ms%10.1f ms${if (ok) "" else "  CHECK FAILED"}")
      Op(name, ms, ok)
    } catch {
      case e: Exception =>
        System.err.println(s"OP FAILED $name: $e")
        Op(name, Double.NaN, ok = false)
    }
  }

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  private def hwmKb(): Long = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  }
}
