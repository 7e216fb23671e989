package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.ops.Ids
import graft.parse.{GridRow, HtmlGrid, MiniDom, ParsedAssignment, Personnel}
import graft.text.{Dictionaries => D, RuText}
import graft.text.RuText.{pyStrip, stripChars}

/** One assignment row after explode, before senior resolution (E5). */
final case class AsgRow(
    file: String, fileIdx: Int, year: Int, rowIdx: Int, segId: Long, ord: Int,
    okrug: String, gub: String,
    role: String, uchId: String, uchDesc: String,
    cityStd: String, persRaw: String,
    name: String, rankAbbr: String, profAbbr: String, eduAbbr: String,
    startDateRaw: String, endDateRaw: String,
    isVacancy: Boolean, isActing: Boolean, notes: String, specialRole: String,
    estCount: Integer, workCount: Integer, boilCount: Integer)

/** AsgRow after E5: inspector resolved to a canonical-name key, senior
  * backfill applied, reference skip rule applied. */
final case class AsgResolved(
    file: String, fileIdx: Int, year: Int, rowIdx: Int, ord: Int,
    okrug: String, gub: String,
    role: String, uchId: String, uchDesc: String,
    cityStd: String, persRaw: String,
    inspectorKey: String,
    rankAbbr: String, profAbbr: String, eduAbbr: String,
    startDateRaw: String, endDateRaw: String,
    isVacancy: Boolean, isActing: Boolean, notes: String, specialRole: String,
    estCount: Integer, workCount: Integer, boilCount: Integer,
    emitted: Boolean)

/** The six output tables (star schema, reference DDL :160-169). */
final case class EtlTables(
    assignments: DataFrame,
    inspectors: DataFrame,
    locations: DataFrame,
    ranks: DataFrame,
    professions: DataFrame,
    educations: DataFrame)

/** The reference's full ingestion ETL (SURVEY.md §2A) as a Spark pipeline.
  *
  * Stage map (reference populate_db_ru_v1.py):
  *  - S1-S4/T1/T3/T4/T7 — per-file pure parse, one task per file
  *    (graft.parse.HtmlGrid inside a flatMap; the only sequential state —
  *    rowspan counters — is file-scoped by the data's own semantics);
  *  - T2-E5 — one ordered pass over each file's parsed rows, in the same
  *    task ([[FileFold]] then [[SeniorResolver]]): okrug/gubernia fills and
  *    segment ids (:520,:567-572,:654-671), location ditto (:677-681),
  *    role and counts (:656-659,:683-698), personnel parse + ditto + explode
  *    (:304-501,:700-706,:754-755), and senior as-of resolution (:724-744).
  *    Every one of them is keyed by file and ordered by row, and the senior
  *    cache is *recursively* defined over emitted rows, so the file is the
  *    unit of work and no stage needs a shuffle;
  *  - E1-E4 dims — distinct on the executors, numbered in first-seen order
  *    on the driver (replacing SERIAL PKs): every dim is broadcast into the
  *    fact join, so each is driver-sized by construction;
  *  - E6 fact assembly — broadcast joins of the tiny dims, AssignmentID by
  *    the scale-safe two-phase ranking (graft.ops.Ids.sequenceBy);
  *  - S5-S8 sinks — parquet, fact partitioned by Year (:160-169 indexes).
  *
  * At 100 TB the per-file stages scale with file count, the only wide
  * exchanges are the tiny dim builds and the fact numbering, and every dim
  * join is broadcast.
  */
object ReferenceEtl {

  // ---- scalar UDF surface (all pure Scala, deterministic) -----------------
  private val stdUdf = udf((s: String) => RuText.standardizeText(s))
  private val stripCityKeyUdf = udf((s: String) =>
    if (s == null) null else stripChars(s, " .,:;"))
  private val pyStripOrNullUdf = udf((s: String) =>
    if (s == null || s.isEmpty) null else { val t = pyStrip(s); if (t.isEmpty) null else t })

  /** One task per corpus file: `f(fileName, year, wholeText)`. File order
    * (= surrogate-id order) follows the reference's HTML_FILES list
    * (:16-21), which is filename-sorted: fileIdx is the year, which is
    * stable across listing order because the corpus years are distinct. */
  private def perFile[T: Encoder](spark: SparkSession, dir: String)(
      f: (String, Int, String) => Iterator[T]): Dataset[T] = {
    import spark.implicits._
    val yearPat = "fabric(\\d{4})\\.html$".r
    spark.read.option("wholetext", "true").textFile(dir)
      .withColumn("path", input_file_name())
      .as[(String, String)]
      .flatMap { case (content, path) =>
        val base = path.substring(path.lastIndexOf('/') + 1)
        yearPat.findFirstMatchIn(base) match {
          case Some(m) => f(base, m.group(1).toInt, content)
          case None => Iterator.empty
        }
      }
  }

  /** Read + parse the corpus directory into classified grid rows. */
  def gridRows(spark: SparkSession, dir: String): Dataset[GridRow] = {
    import spark.implicits._
    perFile(spark, dir)((base, year, content) => HtmlGrid.parseFile(base, year, year, content).iterator)
  }

  /** Stages T2..E5: each file's grid rows → resolved assignment rows.
    *
    * MEMORY BOUND: senior back-references are inherently sequential per
    * source file (the reference walks one document's rows in order with a
    * mutable seniors cache), so one file's exploded assignment rows are
    * materialized in a single task. That is O(rows of the LARGEST file),
    * not O(corpus) — parallelism is per-file and unaffected by corpus
    * size. The guard turns a pathological single file (one multi-GB
    * document) into a diagnosable failure instead of a silent executor
    * OOM; legitimate inputs are nowhere near it (the reference corpus'
    * largest file is ~1.4k rows). */
  def resolvedAssignments(spark: SparkSession, dir: String): Dataset[AsgResolved] = {
    import spark.implicits._
    perFile(spark, dir) { (base, year, content) =>
      SeniorResolver.resolveFile(
        guardFileRows(base, FileFold(HtmlGrid.parseFile(base, year, year, content))))
    }
  }

  /** Max assignment rows E5 will hold in one task for a single source
    * file (~500 B/row → ~1 GB at the cap, well inside executor memory). */
  private[graft] val MaxFileRows = 2000000

  private[graft] def guardFileRows(file: String, rows: Vector[AsgRow]): Vector[AsgRow] = {
    require(rows.size <= MaxFileRows,
      s"E5 senior resolution materializes one file's rows in a single task; " +
        s"'$file' has ${rows.size} rows (cap $MaxFileRows). Split the input " +
        s"document or raise MaxFileRows if the executor heap allows.")
    rows
  }

  /** The int fields of a first-seen key, depth first: the orderKey's
    * fields (plus the educations' sub-slot). Sorting by this sequence is
    * Spark's struct order; the non-int payload of a location's key never
    * decides it because orderKeys are unique. */
  private def orderInts(r: Row): Seq[Int] =
    r.toSeq.flatMap { case i: Int => Seq(i); case s: Row => orderInts(s); case _ => Nil }

  /** E1-E4: one row per distinct `keys`, carrying the group's min of
    * `first` (the orderKey, or a struct led by it) as `first`, and `idCol`
    * numbered from 1 in first-seen order. Grouped on the executors,
    * numbered on the driver: the dims are broadcast into the fact join,
    * so collecting them adds no bound the join did not already impose. */
  private def firstSeenDim(keyed: DataFrame, keys: Seq[String], first: Column, idCol: String): DataFrame = {
    val grouped = keyed.groupBy(keys.map(col): _*).agg(min(first).as("first"))
    val at = grouped.schema.fieldIndex("first")
    val numbered = grouped.collect().sortBy(r => orderInts(r.getStruct(at)))(Ordering.Implicits.seqOrdering)
      .zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L)) }
    keyed.sparkSession.createDataFrame(numbered.toSeq.asJava,
      grouped.schema.add(idCol, LongType, nullable = false))
  }

  /** Full ETL: corpus directory → six star-schema tables (E1-E4, E6). */
  def run(spark: SparkSession, dir: String): EtlTables = {
    import spark.implicits._

    val resolved = resolvedAssignments(spark, dir).toDF()
      .withColumn("orderKey", struct($"fileIdx", $"rowIdx", $"ord"))
      // inspectorKey is already the canonical name (named rows) or the
      // resolved senior's canonical name (special rows); only named rows
      // create Inspectors entries (:745-746).
      .withColumn("canonName",
        when($"emitted" && $"specialRole".isNull && !$"isVacancy", $"inspectorKey"))
      .withColumn("stdRank", stdUdf($"rankAbbr"))
      .withColumn("stdProf", stdUdf($"profAbbr"))
      .withColumn("stdEdu", stdUdf($"eduAbbr"))
      .withColumn("profRefused", $"stdProf".isNotNull && $"stdProf".isin(D.knownEducationsMap.keys.toSeq: _*))
      .withColumn("locKeyCity", stripCityKeyUdf(stdUdf($"cityStd")))
      .withColumn("locKeyGub", stdUdf($"gub"))
      .withColumn("locKeyOkrug", stdUdf($"okrug"))
      .cache()

    // E4/E1: Inspectors — first-seen canonical names over emitted named rows.
    val inspectors = firstSeenDim(resolved.where($"canonName".isNotNull),
      Seq("canonName"), $"orderKey", "InspectorID")
      .select($"InspectorID", $"canonName".as("FullName"), lit(null).cast(StringType).as("Notes"))

    // E1: Ranks / Professions — dictionary-enriched first-seen dims.
    def dotFlex(dict: Map[String, String]) =
      udf((k: String) => if (k == null) None else D.dotFlexGet(dict, k))

    val ranks = firstSeenDim(resolved.where($"emitted" && $"stdRank".isNotNull),
      Seq("stdRank"), $"orderKey", "RankID")
      .select($"RankID", $"stdRank".as("Abbreviation"),
        dotFlex(D.knownRanksMap)($"stdRank").as("FullName_RU"),
        lit(null).cast(StringType).as("RankType"))

    val professions = firstSeenDim(resolved.where($"emitted" && $"stdProf".isNotNull && !$"profRefused"),
      Seq("stdProf"), $"orderKey", "ProfessionID")
      .select($"ProfessionID", $"stdProf".as("Abbreviation"),
        dotFlex(D.knownProfessionsMap)($"stdProf").as("FullName_RU"))

    // E2: Educations — creation events from the edu slot AND the re-routed
    // refused-profession slot, in that per-assignment order (:759-762).
    val eduEvents = resolved.where($"emitted" && $"stdEdu".isNotNull)
      .select($"stdEdu".as("k"), struct($"orderKey", lit(0).as("sub")).as("orderKey"))
      .unionAll(resolved.where($"emitted" && $"profRefused")
        .select($"stdProf".as("k"), struct($"orderKey", lit(1).as("sub")).as("orderKey")))
    val educations = firstSeenDim(eduEvents, Seq("k"), $"orderKey", "EducationID")
      .select($"EducationID", $"k".as("Abbreviation"),
        dotFlex(D.knownEducationsMap)($"k").as("FullName_RU"))

    // E3: Locations — null-safe composite key, first-seen per ROW (:717),
    // one probe per surviving row (ord 0). The stored values come from the
    // first row that created the location (:240-245): they ride in `first`.
    val locations = firstSeenDim(resolved.where($"ord" === 0),
      Seq("locKeyCity", "locKeyGub", "locKeyOkrug"),
      struct($"orderKey", $"cityStd", $"gub", $"okrug"), "LocationID")
      .select($"LocationID",
        pyStripOrNullUdf($"first.cityStd").as("CityName"),
        pyStripOrNullUdf($"first.gub").as("GuberniaName"),
        pyStripOrNullUdf($"first.okrug").as("OkrugName"),
        lit("Город").as("LocationType"),
        $"locKeyCity", $"locKeyGub", $"locKeyOkrug")

    // E6: fact assembly — broadcast dim joins + scale-safe AssignmentID.
    val fact0 = resolved.where($"emitted")
      .withColumn("inspJoinKey", coalesce($"canonName", $"inspectorKey"))
      .withColumn("finalEduKey", when($"profRefused", $"stdProf").otherwise($"stdEdu"))
      .withColumn("finalProfKey", when($"profRefused", lit(null: String)).otherwise($"stdProf"))
    val fact = fact0
      .join(broadcast(inspectors.select($"InspectorID", $"FullName")),
        $"inspJoinKey" === $"FullName", "left")
      .join(broadcast(ranks.select($"RankID", $"Abbreviation".as("rkA"))), $"stdRank" === $"rkA", "left")
      .join(broadcast(professions.select($"ProfessionID", $"Abbreviation".as("pfA"))), $"finalProfKey" === $"pfA", "left")
      .join(broadcast(educations.select($"EducationID", $"Abbreviation".as("edA"))), $"finalEduKey" === $"edA", "left")
      .join(broadcast(locations.select($"LocationID",
          $"locKeyCity".as("lkC"), $"locKeyGub".as("lkG"), $"locKeyOkrug".as("lkO"))),
        $"locKeyCity" <=> $"lkC" && $"locKeyGub" <=> $"lkG" && $"locKeyOkrug" <=> $"lkO", "left")

    val assignments = Ids.sequenceBy(fact, Seq(col("orderKey")), "AssignmentID")
      .select(
        $"AssignmentID", $"InspectorID", $"year".as("Year"), $"file".as("SourceFile"),
        $"okrug".as("OkrugName"), $"gub".as("GuberniaName"),
        $"role".as("PositionRole"), $"uchId".as("UchastokIdentifier"),
        $"uchDesc".as("UchastokDescription"), $"LocationID".as("InspectorLocationID"),
        $"persRaw".as("PersonnelRawString"),
        $"RankID", $"ProfessionID", $"EducationID",
        $"startDateRaw".as("StartDateInYearRaw"), $"endDateRaw".as("EndDateInYearRaw"),
        $"isActing".as("IsActing"), $"isVacancy".as("IsVacancy"),
        $"notes".as("AssignmentNotes"),
        $"estCount".as("EstablishmentsCount"), $"workCount".as("WorkerCount"),
        $"boilCount".as("BoilerCount"))

    EtlTables(
      assignments,
      inspectors,
      locations.drop("locKeyCity", "locKeyGub", "locKeyOkrug"),
      ranks,
      professions,
      educations)
  }

  /** S5-S8: parquet sinks; the fact table partitioned by Year (the
    * reference's idx_assignments_year :168 becomes partition pruning). */
  def writeAll(spark: SparkSession, dir: String, outDir: String): EtlTables = {
    val t = run(spark, dir)
    t.assignments.write.mode("overwrite").partitionBy("Year").parquet(s"$outDir/assignments")
    t.inspectors.write.mode("overwrite").parquet(s"$outDir/inspectors")
    t.locations.write.mode("overwrite").parquet(s"$outDir/locations")
    t.ranks.write.mode("overwrite").parquet(s"$outDir/ranks")
    t.professions.write.mode("overwrite").parquet(s"$outDir/professions")
    t.educations.write.mode("overwrite").parquet(s"$outDir/educations")
    t
  }
}

/** T8 role classification (:683-698), pure. */
object RoleClassifier {
  import java.util.regex.Pattern
  private val FLAGS =
    Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE | Pattern.UNICODE_CHARACTER_CLASS
  private lazy val uchPat = Pattern.compile(D.uchPatternSrc, FLAGS)
  private lazy val stdRoleMap: Vector[(String, String)] =
    D.roleMap.map { case (k, v) => RuText.standardizeText(k) -> v }

  def classify(uchastokDescRaw: String): (String, String, String) = {
    val raw = if (uchastokDescRaw == null) "" else uchastokDescRaw
    var role = "Не определена"
    var uchId: String = null
    var uchDesc: String = raw
    val descStd = RuText.standardizeText(raw)
    var found = false
    if (descStd != null) {
      stdRoleMap.find(_._1 == descStd).foreach { case (_, v) =>
        role = v; uchDesc = null; found = true
      }
    }
    if (!found && pyStrip(raw).nonEmpty) {
      role = "Инспектор участка"
      val m = uchPat.matcher(raw)
      val lower = raw.toLowerCase(java.util.Locale.ROOT)
      if (m.lookingAt()) uchId = m.group(1)
      else if (lower.contains(D.litVsyaGub)) uchId = D.litVsyaGubId
      else if (lower.contains("(должность не указана)")) {
        role = "Должность не указана"; uchDesc = null
      }
    }
    (role, uchId, uchDesc)
  }
}

/** E5 senior-inspector resolution (:724-744): per-file sequential fold at
  * canonical-name level (InspectorID equality ⇔ canonical-name equality).
  */
object SeniorResolver {

  private def appendNote(notes: String, add: String): String =
    RuText.lstripChars((if (notes == null) "" else notes) + add, "; ")

  def resolveFile(rows: Vector[AsgRow]): Iterator[AsgResolved] = {
    val out = ArrayBuffer[AsgResolved]()
    var curSeg = -1L
    var seniorCache: String = null
    // (okrug, gub) → last emitted senior-role row with an inspector:
    // (inspectorKey, stdRank, stdProf, stdEdu) — the as-of lookup target.
    val lastSenior = scala.collection.mutable.HashMap[(String, String), (String, String, String, String)]()

    for (r <- rows) {
      if (r.segId != curSeg) { curSeg = r.segId; seniorCache = null }
      var inspKey: String = null
      var rankK = r.rankAbbr
      var profK = r.profAbbr
      var eduK = r.eduAbbr
      var notes = r.notes
      var emit = true

      if (!r.isVacancy && (r.name != null || r.specialRole != null)) {
        if (r.specialRole == "старший инспектор") {
          if (seniorCache != null) inspKey = seniorCache // cache hit: no backfill (:726-728)
          else lastSenior.get((r.okrug, r.gub)) match {
            case Some((k, rk, pk, ek)) => // DB as-of hit: backfill (:730-741)
              inspKey = k
              if (rk != null) rankK = rk
              if (pk != null) profK = pk
              if (ek != null) eduK = ek
            case None =>
              notes = appendNote(notes, "; Обслуж. ст.инсп.(ID не найден)")
          }
        } else if (r.name != null) {
          inspKey = RuText.canonicalInspectorName(r.name)
        }
        // :748 — named non-special non-vacancy rows that failed resolution
        // are skipped entirely.
        if (inspKey == null && !r.isVacancy && r.specialRole == null && r.name != null)
          emit = false
      }

      if (emit && r.role == "Старший инспектор" && inspKey != null) {
        seniorCache = inspKey // :751-752
        lastSenior((r.okrug, r.gub)) = (inspKey,
          RuText.standardizeText(rankK), RuText.standardizeText(profK), RuText.standardizeText(eduK))
      }
      out += AsgResolved(
        r.file, r.fileIdx, r.year, r.rowIdx, r.ord,
        r.okrug, r.gub, r.role, r.uchId, r.uchDesc, r.cityStd, r.persRaw,
        inspKey, rankK, profK, eduK,
        r.startDateRaw, r.endDateRaw, r.isVacancy, r.isActing, notes, r.specialRole,
        r.estCount, r.workCount, r.boilCount, emit)
    }
    out.iterator
  }
}

/** T2-P1 for one file (:520-706): context fills, role and counts, personnel
  * parse + ditto, and the explode, as one pass over the file's grid rows in
  * row order. Pure; runs inside the parse task. */
object FileFold {
  private val Unknown = "Неизвестно"

  /** T6 memory candidate: the row's last record eligible to be remembered
    * (:754 after the :748 skip — named, non-vacancy, non-special,
    * canonicalizable). */
  private def lastReal(recs: Vector[ParsedAssignment]): ParsedAssignment =
    recs.reverseIterator.find(r => r.name != null && !r.isVacancy && r.specialRole == null &&
      RuText.canonicalInspectorName(r.name) != null).orNull

  private def nz(s: String): String = if (s == null) "" else s

  def apply(grid: Vector[GridRow]): Vector[AsgRow] = {
    val out = Vector.newBuilder[AsgRow]
    var okrug = Unknown
    var gub: String = null  // gubernia fill; every okrug row resets it (:567)
    var segId = 0L          // boundary rows so far, the current row included
    var city: String = null // last own city over ALL data rows (:677-681)
    var memory: ParsedAssignment = null // last real record of segment memSeg
    var memSeg = -1L

    for (g <- grid) {
      // T2: a 1901 data row naming its gubernia in a cell is a boundary too.
      if (g.kind == "okrug") {
        if (g.okrugText != null) okrug = g.okrugText
        gub = null
      }
      val gubVal = if (g.kind == "gubernia") g.gubText else g.gubFromCell
      if (gubVal != null) gub = gubVal
      if (g.kind == "okrug" || (g.kind == "gubernia" && g.gubText != null) || g.gubFromCell != null)
        segId += 1

      if (g.kind == "data") {
        val old = g.year == 1901
        val cells = g.cells
        // T5 runs over every data row, before the :680 and :708 drops, so
        // a row dropped for empty records still passes its city on.
        val own = RuText.standardizeText(cells(if (old) 2 else 4))
        if (own != null && own != "»") city = own
        if (city != null) {
          val pers = cells(if (old) 3 else 5)
          // T6 (:700-706): the ditto memory is the last real record of a
          // STRICTLY PRIOR surviving row in the same segment; ditto rows
          // never update it. A cell that standardizes to null is neither a
          // ditto nor parsed: the row is dropped (:708), memory untouched.
          val dittoStd = RuText.standardizeText(pyStrip(MiniDom.unescapeEntities(nz(pers))))
          val records =
            if (dittoStd == null) Vector.empty
            else if (dittoStd == "»") {
              if (memory != null && memSeg == segId) Vector(memory) else Vector.empty
            } else {
              val recs = Personnel.parse(pers)
              val m = lastReal(recs)
              if (m != null) { memory = m; memSeg = segId }
              recs
            }
          if (records.nonEmpty) {
            // T9 (:656-659): element_at(cells, 2..4) is 1-based, so cells 1..3.
            def count(i: Int): Integer = if (old) null else RuText.cleanNumber(cells(i))
            val (estCount, workCount, boilCount) = (count(1), count(2), count(3))
            val (role, uchId, uchDesc) = RoleClassifier.classify(pyStrip(nz(cells(if (old) 1 else 0))))
            val persRaw = MiniDom.unescapeEntities(pyStrip(nz(pers))) // :767
            // P1: explode → assignment grain.
            for ((r, ord) <- records.iterator.zipWithIndex)
              out += AsgRow(g.file, g.fileIdx, g.year, g.rowIdx, segId, ord,
                okrug, if (gub == null) Unknown else gub,
                role, uchId, uchDesc, city, persRaw,
                r.name, r.rankAbbr, r.profAbbr, r.eduAbbr, r.startDateRaw, r.endDateRaw,
                r.isVacancy, r.isActing, r.notes, r.specialRole,
                estCount, workCount, boilCount)
          }
        }
      }
    }
    out.result()
  }
}
