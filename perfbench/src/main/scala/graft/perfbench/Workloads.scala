package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.ReferenceEtl
import graft.ops.{Graphs, IvfIndex, Pq, Q, Relational, Similarity, TextOps}
import graft.parse.{HtmlGrid, MiniDom, Personnel}
import graft.text.RuText

import Main.{deleteTree, dirBytes, noop, op}

/** Median wall milliseconds of `reps` runs of `body`. */
object Timing {
  def medianMs(reps: Int)(body: => Unit): Double = {
    val xs = (1 to reps).map { _ => val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6 }
    xs.sorted.apply(reps / 2)
  }
}

/** Where the timed operations write their results, and the DuckDB oracle
  * SQL each one is compared with after the run (by perfbench/run.py). */
object Results {
  def write(df: DataFrame, work: String, name: String): Unit =
    df.write.mode("overwrite").parquet(Paths.get(work, "results", name).toString)

  def oracles(work: String, sql: Seq[(String, String)]): Unit = {
    Files.createDirectories(Paths.get(work, "results"))
    Files.writeString(Paths.get(work, "results", "oracle_sql.json"), Json.obj(sql))
  }
}

// ---------------------------------------------------------------- roster_etl

final class RosterEtl(input: String, work: String) extends Workload {
  private val corpus = s"$input/corpus"
  private val expected = counts(s"$input/expected.json")
  private val out = Paths.get(work, "etl")
  private var lastOutBytes = 0L

  /** The generator's flat {"name": count} file. */
  private def counts(path: String): Map[String, Long] =
    "\"(\\w+)\":\\s*(\\d+)".r.findAllMatchIn(Files.readString(Paths.get(path)))
      .map(m => m.group(1) -> m.group(2).toLong).toMap

  def warm(spark: SparkSession): Unit = spark.read.text(corpus).count()

  private val Tables = Seq("assignments", "inspectors", "locations", "ranks",
    "professions", "educations")

  /** Row counts of the six tables, all produced by the generator. */
  private val dims: Map[String, Long] = Map("assignments" -> expected("fact_rows")) ++
    Tables.tail.map(t => t -> expected(t))

  private def countsOk(spark: SparkSession, dir: String): Seq[Check] =
    Tables.map { t =>
      val n = spark.read.parquet(s"$dir/$t").count()
      Check(s"rows.$t", n == dims(t), s"$n rows, expected ${dims(t)}")
    }

  def check(spark: SparkSession): Seq[Check] = {
    // Every generated personnel cell parses to the reference's records.
    val cells = spark.read.json(s"$input/personnel_cells.jsonl").collect()
    val bad = cells.filterNot { c =>
      val exp = c.getAs[scala.collection.Seq[Row]]("output")
      val got = Personnel.parse(c.getAs[String]("input"))
      def str(r: Row, f: String) = if (r.isNullAt(r.fieldIndex(f))) null else r.get(r.fieldIndex(f)).toString
      got.length == exp.length && got.zip(exp).forall { case (g, e) =>
        Seq(g.name -> "name", g.rankAbbr -> "rank_abbr", g.profAbbr -> "prof_abbr",
          g.eduAbbr -> "edu_abbr", g.startDateRaw -> "start_date_raw",
          g.endDateRaw -> "end_date_raw", g.notes -> "notes", g.specialRole -> "special_role")
          .forall { case (v, f) => v == str(e, f) } &&
          g.isVacancy.toString == str(e, "is_vacancy") && g.isActing.toString == str(e, "is_acting")
      }
    }
    Seq(Check("personnel.parse", bad.isEmpty,
      s"${cells.length - bad.length}/${cells.length} cells" +
        bad.headOption.map(b => s"; first mismatch ${b.getAs[String]("input")}").getOrElse("")))
  }

  def pass(spark: SparkSession, rec: Recorder, pass: Int): Seq[Op] = {
    val dir = out.resolve(s"pass-$pass")
    val o = op(rec, "etl.write_all") {
      ReferenceEtl.writeAll(spark, corpus, dir.toString)
      true
    }
    val checks = if (o.ok) countsOk(spark, dir.toString) else Nil
    checks.filterNot(_.ok).foreach(c => System.err.println(s"CHECK FAILED ${c.name}: ${c.detail}"))
    lastOutBytes = dirBytes(dir)
    deleteTree(dir)
    Seq(o.copy(ok = o.ok && checks.forall(_.ok)))
  }

  override def probe(spark: SparkSession, rec: Recorder): Map[String, Any] = {
    val files = Files.list(Paths.get(corpus)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".html")).sortBy(_.getFileName.toString)
    val docs = files.map { p =>
      val base = p.getFileName.toString
      (base, base.stripPrefix("fabric").stripSuffix(".html").toInt, Files.readString(p))
    }
    val trRows = docs.map(_._3.split("<tr").length - 1).sum.toDouble
    val reps = 5
    val domMs = Timing.medianMs(reps)(docs.foreach(d => MiniDom.parse(d._3)))
    val grid = docs.flatMap { case (b, y, c) => HtmlGrid.parseFile(b, y, y, c) }
    val gridMs = Timing.medianMs(reps)(docs.foreach { case (b, y, c) => HtmlGrid.parseFile(b, y, y, c) })
    val data = grid.filter(_.kind == "data")
    val pers = data.flatMap(r => Option(r.cells(if (r.year == 1901) 3 else 5)))
    val persMs = Timing.medianMs(reps)(pers.foreach(Personnel.parse))
    val records = pers.map(Personnel.parse)
    val stdIn = data.flatMap(_.cells).filter(_ != null)
    val stdMs = Timing.medianMs(reps)(stdIn.foreach(RuText.standardizeText))
    val names = records.flatten.flatMap(r => Option(r.name))
    val canonMs = Timing.medianMs(reps)(names.foreach(RuText.canonicalInspectorName))

    // ETL stages, each forced by an action with caches dropped; the caller
    // takes each stage's self time as the difference to the one before.
    rec.newOp()
    rec.span("etl.stage.grid_rows")(noop(ReferenceEtl.gridRows(spark, corpus).toDF()))
    Main.reset(spark)
    rec.span("etl.stage.resolve")(noop(ReferenceEtl.resolvedAssignments(spark, corpus).toDF()))
    Main.reset(spark)
    rec.span("etl.stage.tables") {
      val t = ReferenceEtl.run(spark, corpus)
      Seq(t.assignments, t.inspectors, t.locations, t.ranks, t.professions, t.educations)
        .foreach(noop)
    }
    Main.reset(spark)
    rec.span("etl.stage.write")(ReferenceEtl.writeAll(spark, corpus, out.resolve("stage").toString))
    Main.reset(spark)
    deleteTree(out.resolve("stage"))
    Map(
      "parse.minidom_us_per_row" -> domMs * 1e3 / trRows,
      "parse.grid_us_per_row" -> gridMs * 1e3 / trRows,
      "parse.personnel_us_per_cell" -> persMs * 1e3 / pers.length,
      "parse.records_per_cell" -> records.map(_.length).sum.toDouble / pers.length,
      "text.standardize_us_per_call" -> stdMs * 1e3 / stdIn.length,
      "text.canonical_name_us_per_call" -> canonMs * 1e3 / names.length)
  }

  def facts: Map[String, Any] = Map(
    "out_bytes" -> lastOutBytes,
    "in_bytes" -> dirBytes(Paths.get(corpus)),
    "tr_rows" -> expected("tr_rows"),
    "data_rows" -> expected("data_rows"),
    "fact_rows" -> expected("fact_rows"))
}

// ------------------------------------------------------------------ star_mix

/** The frozen 30-query headline set: q01-q25 and d01-d05. */
final class StarMix(input: String, work: String, seed: Long) extends Workload {
  private val names = ((1 to 25).map(i => f"q$i%02d") ++ (1 to 5).map(i => f"d$i%02d")).toSet
  private val queries: Seq[Q] =
    (Relational.queries ++ TextOps.queries).filter(q => names(q.name.take(3)))
  require(queries.length == 30, s"expected 30 headline queries, found ${queries.length}")

  def warm(spark: SparkSession): Unit = {
    spark.read.parquet(Seq("customer", "supplier", "part", "orders", "events", "documents")
      .map(t => s"$input/$t.parquet"): _*).schema
    spark.read.parquet(s"$input/lineitem.parquet").count()
  }

  def check(spark: SparkSession): Seq[Check] = {
    Results.oracles(work, queries.flatMap(q => q.oracle.map(q.name -> _)))
    Nil
  }

  def pass(spark: SparkSession, rec: Recorder, pass: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(queries).map { q =>
      op(rec, "relational.query") {
        val (df, _) = rec.span("relational.plan") {
          val df = q.fn(spark, input)
          df.queryExecution.executedPlan
          df
        }
        rec.span("relational.exec")(Results.write(df, work, q.name))
        true
      }
    }

  def facts: Map[String, Any] = Map("queries" -> queries.length)
}

// ------------------------------------------------------------- vector_search

final class VectorSearch(input: String, work: String, seed: Long) extends Workload {
  private val K = 10
  private val Probes = 3
  private val Batches = 12
  private val CheckQueries = 400L
  private val BatchSize = 16
  private val PqM = 8
  private val emb = s"$input/embeddings.parquet"
  private var exact: Map[Long, Set[Long]] = Map.empty
  private var recallSum = 0.0
  private var recallN = 0
  private var indexBytes = 0L
  private var nVec = 0L
  private var dim = 0

  private def vecs(spark: SparkSession) = spark.read.parquet(emb).select("vec_id", "embedding")
  private def asDouble(df: DataFrame) =
    df.select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
  /** The (node, e0..e3) frame embeddingRelated takes: the first four
    * components, the width of the walk embeddings it serves (at 16 its
    * planning alone takes ~20 s on a 4-CPU host, whatever the node count). */
  private def wide(df: DataFrame) =
    df.select(col("vec_id").as("node") +: (0 until math.min(dim, 4)).map(j =>
      col("embedding").getItem(j).cast("double").as(s"e$j")): _*)

  def warm(spark: SparkSession): Unit = {
    val r = spark.read.parquet(emb).agg(count(lit(1)), max(size(col("embedding")))).head
    nVec = r.getLong(0)
    dim = r.getInt(1)
  }

  /** Exact top-k of every vector (kept for recall), and IVF with every
    * cell probed equal to it row for row, on the first 400 queries. */
  def check(spark: SparkSession): Seq[Check] = {
    val rows = Similarity.cosineTopK(vecs(spark), K).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    exact = rows.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._3).toSet }
    val model = IvfIndex.build(spark, asDouble(vecs(spark)))
    val qs = asDouble(vecs(spark).where(col("vec_id") < CheckQueries))
    val all = IvfIndex.searchTopK(spark, model, qs, K, model.centroids.length)
      .select("vec_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val want = rows.filter(_._1 < CheckQueries)
    Seq(Check("ivf.search_all_probes_equals_exact", all.sameElements(want),
      s"${all.length} ivf rows vs ${want.length} exact rows"))
  }

  private def batch(spark: SparkSession, pass: Int, b: Int): DataFrame = {
    val r = new scala.util.Random(seed * 7919L + pass * 1009L + b)
    val ids = Seq.fill(BatchSize)(r.nextLong(nVec)).distinct
    vecs(spark).where(col("vec_id").isin(ids: _*))
  }

  def pass(spark: SparkSession, rec: Recorder, pass: Int): Seq[Op] = {
    val ops = ArrayBuffer[Op]()
    val dir = Paths.get(work, s"ivf-$pass")
    var model: IvfIndex.Model = null
    var cb: Pq.PqCodebook = null
    var enc: DataFrame = null
    ops += op(rec, "ivf.build") { model = IvfIndex.build(spark, asDouble(vecs(spark))); true }
    ops += op(rec, "ivf.save") { IvfIndex.save(model, dir.toString); true }
    ops += op(rec, "pq.train") { cb = Pq.train(spark, vecs(spark), PqM); true }
    ops += op(rec, "pq.encode") { enc = Pq.encode(spark, vecs(spark), cb).localCheckpoint(); true }
    indexBytes = dirBytes(dir)
    val served = IvfIndex.load(spark, dir.toString)
    // A probe batch serves one batch of queries from both indexes: IVF
    // top-k from the loaded index, and PQ asymmetric-distance top-k.
    for (b <- 0 until Batches) {
      val q = batch(spark, pass, b)
      ops += op(rec, "vec.probe") {
        val (ivf, _) = rec.span("ivf.search") {
          IvfIndex.searchTopK(spark, served, asDouble(q), K, Probes)
            .select("vec_id", "neighbor_id").collect()
            .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
        }
        val (adc, _) = rec.span("pq.adc")(Pq.topKAdc(q, enc, cb, K).collect())
        ivf.foreach { case (qid, got) =>
          recallSum += (got intersect exact.getOrElse(qid, Set.empty)).size.toDouble / K
          recallN += 1
        }
        ivf.nonEmpty && ivf.values.forall(_.size == K) &&
          adc.nonEmpty && adc.groupBy(_.getLong(0)).values.forall(_.length == K)
      }
    }
    ops += op(rec, "similarity.cosine_topk") { noop(Similarity.cosineTopK(vecs(spark), K)); true }
    ops += op(rec, "graphs.embedding_related") {
      noop(Graphs.embeddingRelated(wide(vecs(spark)), 5))
      true
    }
    deleteTree(dir)
    ops.toSeq
  }

  override def probe(spark: SparkSession, rec: Recorder): Map[String, Any] = {
    // Candidates a probe scores: the sizes of the query's `Probes` nearest
    // cells (lowest cell index on ties, as the index itself orders them).
    val dir = Paths.get(work, "ivf-probe")
    IvfIndex.save(IvfIndex.build(spark, asDouble(vecs(spark))), dir.toString)
    val served = IvfIndex.load(spark, dir.toString)
    val sizes = served.cells.groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val qs = asDouble(batch(spark, -1, 0)).collect().map(_.getSeq[Double](1).toArray)
    val cands = qs.map { v =>
      served.centroids.indices.sortBy(c => (dist2(served.centroids(c), v), c)).take(Probes)
        .map(c => sizes.getOrElse(c, 0L)).sum.toDouble
    }
    deleteTree(dir)
    val meanCand = cands.sum / cands.length
    Map("ivf.candidates_per_query" -> meanCand, "ivf.k_per_candidate" -> K / meanCand)
  }

  private def dist2(a: Array[Double], b: Array[Double]) =
    a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum

  def facts: Map[String, Any] = Map(
    "index_bytes" -> indexBytes,
    "vector_bytes" -> nVec * dim * 4, "pairs_scored" -> nVec * (nVec - 1),
    "recall_at10" -> (if (recallN == 0) Double.NaN else recallSum / recallN))
}

// ---------------------------------------------------------------- graph_iter

/** Four iterative graph operators, each at two iteration counts; the
  * per-iteration cost is the slope between them. */
final class GraphIter(input: String, work: String) extends Workload {
  private var persisted = 0

  /** The customer→supplier trade graph the d128/d145 queries read. */
  private def tradeDirected(s: SparkSession): DataFrame = {
    val o = s.read.parquet(s"$input/orders.parquet").select(col("o_orderkey"), col("o_custkey"))
    val l = s.read.parquet(s"$input/lineitem.parquet")
      .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey"))
    o.join(l, Seq("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
  }
  private def tradeEdges(s: SparkSession): DataFrame = {
    val d = tradeDirected(s)
    d.union(d.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** (name, registry query, iteration counts, run at n iterations). */
  private val algos: Seq[(String, String, Seq[Int], (SparkSession, Int) => DataFrame)] = Seq(
    ("pagerank", "d128_pagerank", Seq(3, 1), (s, n) => Graphs.pageRank(tradeEdges(s), n, 1)),
    ("hits", "d145_hits", Seq(2, 1), (s, n) => Graphs.hits(tradeDirected(s), n, 1)),
    ("lpa", "d140_label_propagation", Seq(3, 1),
      (s, n) => Graphs.labelPropagation(Graphs.copurchaseFrame(s, input), n, 1)),
    ("kcore", "d144_kcore", Seq(6, 2),
      (s, n) => Graphs.kCore(Graphs.copurchaseFrame(s, input), 3, n, 1)))

  def warm(spark: SparkSession): Unit = {
    spark.read.parquet(s"$input/orders.parquet").schema
    spark.read.parquet(s"$input/lineitem.parquet").count()
  }

  /** Each timed run writes its result; the one at the registry's own
    * iteration count is compared with the registry's unrolled oracle SQL. */
  def check(spark: SparkSession): Seq[Check] = {
    val registry = Graphs.queries.map(q => q.name -> q).toMap
    Results.oracles(work, algos.map { case (name, qn, ns, _) =>
      s"graphs.$name.${ns.head}" -> registry(qn).oracle.get
    })
    Nil
  }

  def pass(spark: SparkSession, rec: Recorder, pass: Int): Seq[Op] = {
    val ops = for ((name, _, ns, f) <- algos; n <- ns) yield
      op(rec, s"graphs.$name.$n") { Results.write(f(spark, n), work, s"graphs.$name.$n"); true }
    persisted = spark.sparkContext.getPersistentRDDs.size
    ops
  }

  def facts: Map[String, Any] = Map(
    "iterations" -> algos.map { case (name, _, ns, _) => name -> ns }.toMap,
    "persistent_rdds_after_pass" -> persisted)
}

// ----------------------------------------------------------------- composite

/** Several workloads run as one: set up, checked and passed in turn, with
  * caches dropped between them. */
final class Composite(parts: Seq[Workload]) extends Workload {
  def warm(spark: SparkSession): Unit = parts.foreach(_.warm(spark))
  def check(spark: SparkSession): Seq[Check] =
    parts.flatMap { p => val c = p.check(spark); Main.reset(spark); c }
  def pass(spark: SparkSession, rec: Recorder, pass: Int): Seq[Op] =
    parts.flatMap { p => val o = p.pass(spark, rec, pass); Main.reset(spark); o }
  override def probe(spark: SparkSession, rec: Recorder): Map[String, Any] =
    parts.map(_.probe(spark, rec)).reduce(_ ++ _)
  def facts: Map[String, Any] = parts.map(_.facts).reduce(_ ++ _)
}
