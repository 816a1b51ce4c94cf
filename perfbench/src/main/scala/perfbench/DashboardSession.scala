package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.storage.StorageLevel

import graft.Pipeline
import graft.agg.{Charts, Profile, Robust}
import graft.insights.Insights
import graft.io.Tables
import graft.ops.Tidy

/** `dashboard_session`: set-up builds `clean_admissions` from seeded
  * workbooks (`graft-sheet` load, then `Pipeline.runEtl`, traced per step
  * in the traced run), loads it with
  * `Pipeline.loadForDashboard` and caches it. One op is one selection
  * change: `Tidy.applyFilters`, then `Insights.generate` and every chart,
  * each result collected. Two sessions run concurrently, each drawing its
  * selections from a shared finite pool with its own stream, so some
  * selections repeat. `agg`, `insights`, `plans` and the `io` cache
  * do the work; `sources` does none.
  */
final class DashboardSession(spark: SparkSession, args: Main.Args, t: Tracer)
    extends Workload {
  /** 20 years of workbooks with 1,850 principal-diagnosis rows each give
    * about 300k tidy and 280k clean rows: the size of the 279,675-row
    * clean table the dashboard refresh was profiled on. */
  val Workbooks = 20
  val Rows = 1850
  val PoolSize = 24

  case class Answer(sel: Int, insights: Seq[String], totals: Array[Row],
                          totals2: Array[Row], top: Array[Row], heat: Array[Row],
                          choropleth: Array[Row], box: Array[Row], profile: Array[Row])

  private var base: DataFrame = _
  private var in: File = _
  private var files: Seq[File] = Nil
  private var etlOut: File = _
  private var model: Gen.Model = _
  private var facts: IndexedSeq[Expect.Fact] = _
  private var pool: IndexedSeq[Map[String, Seq[Any]]] = _
  private var streams: IndexedSeq[Random] = _
  private var cacheMb = 0.0
  private var inputBytes = 0L
  private var tidyRows = 0L
  private val answers = new ConcurrentHashMap[Long, Answer]()

  private val Geo = Seq(("NSW", -33.87, 151.21, 8166000L), ("VIC", -37.81, 144.96, 6681000L),
    ("QLD", -27.47, 153.03, 5185000L), ("WA", -31.95, 115.86, 2750000L),
    ("SA", -34.93, 138.60, 1803000L), ("TAS", -42.88, 147.33, 571000L),
    ("ACT", -35.28, 149.13, 454000L), ("NT", -12.46, 130.84, 250000L))

  def clients: Int = 2

  /** Rep 0 generates the workbooks and runs the ETL, once per process as
    * the batch ETL runs; every rep then loads the clean table for the
    * dashboard and fills the cache, as a dashboard restart does. */
  def setup(rep: Int): Unit = {
    if (rep == 0) {
      val rnd = new Random(args.seed)
      val wbs = (0 until Workbooks).map(i => Gen.workbook(rnd, 2005 + i, Rows))
      in = new File(args.work, "dash_in")
      inputBytes = Gen.writeWorkbooks(in, wbs)
      files = wbs.map(w => new File(in, w.fileName))
      model = Gen.model(wbs)
      tidyRows = model.tidyRows
      facts = Expect.facts(model)
      etlOut = new File(args.work, "dash_etl")
      val tidy = t.span("sources.load", -1L)(spark.read.format("graft-sheet").load(in.getPath))
      EtlSteps.run(t, tidy, etlOut, -1L)
      pool = selectionPool(new Random(args.seed + 1))
      // the order in which sessions visit the pool (and so which selections
      // repeat) is the same for every seed; the seed picks the values
      streams = (0 until clients).map(c => new Random(1000 + c))
    }
    if (base != null) base.unpersist(blocking = true)
    val loaded = t.span("io.loadForDashboard", -(rep + 1L))(Pipeline.loadForDashboard(spark, etlOut.getPath))
    base = loaded.persist(StorageLevel.MEMORY_AND_DISK)
    t.span("io.cache_fill", -(rep + 1L))(base.write.format("noop").mode("overwrite").save())
    cacheMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    if (rep == 0) {
      // one selection per session at once, as the loop runs them
      Await.result(Future.sequence((0 until clients).map(c =>
        Future(run(Layers.WarmUp + c, c)))), Duration.Inf)
      answers.clear()
    }
  }

  /** Selections from one state or year up to everything. Each slot's
    * shape (which columns, how many values) is the same for every seed,
    * so its selectivity is too; the seed picks the values. */
  private def selectionPool(rnd: Random): IndexedSeq[Map[String, Seq[Any]]] = {
    val years = facts.map(_.year).distinct.sorted
    val cats = facts.map(_.category).distinct.sorted
    def some[T](xs: Seq[T], n: Int): Seq[T] = rnd.shuffle(xs).take(n).sortBy(_.toString)
    Map.empty[String, Seq[Any]] +: (1 until PoolSize).map { i =>
      i % 7 match {
        case 0 => Map("state" -> some(Gen.States, 1))
        case 1 => Map("year" -> some(years, 1))
        case 2 => Map("state" -> some(Gen.States, 1), "year" -> some(years, 1))
        case 3 => Map("state" -> some(Gen.States, 4))
        case 4 => Map("year" -> some(years, years.size / 2))
        case 5 => Map("category" -> some(cats, 2))
        case _ => Map("state" -> some(Gen.States, 3), "category" -> some(cats, 5))
      }
    }
  }

  private def run(i: Long, sel: Int): Unit = {
    val f = t.span("ops.applyFilters", i)(Tidy.applyFilters(base, pool(sel)))
    val ins = t.span("insights.generate", i)(Insights.generate(f))
    val tot = t.span("agg.totalsBy", i)(Charts.totalsBy(f, "state", "separations").collect())
    val tot2 = t.span("agg.totalsBy2", i)(
      Charts.totalsBy2(f, "year", "state", "separations").collect())
    val top = t.span("agg.topKBy", i)(Charts.topKBy(f, "category", "separations", 10).collect())
    val heat = t.span("agg.heatmap", i)(
      Charts.heatmap(f, "category", "state", Gen.States, "separations").collect())
    val geo = spark.createDataFrame(Geo).toDF("state", "lat", "lon", "population")
    val chor = t.span("agg.choropleth", i)(
      Charts.choroplethPrep(f, "state", "separations", geo).collect())
    val box = t.span("agg.boxplot", i)(Robust.boxplotStats(f, "state", "separations").collect())
    val prof = t.span("agg.profile", i)(
      Profile.profile(f, Seq("year", "state", "separations")).collect())
    answers.put(i, Answer(sel, ins, tot, tot2, top, heat, chor, box, prof))
  }

  def op(client: Int, index: Long): String = {
    run(index, streams(client).nextInt(PoolSize))
    "selection"
  }

  private def selected(sel: Int): IndexedSeq[Expect.Fact] = {
    val s = pool(sel)
    facts.filter { f =>
      s.get("state").forall(_.contains(f.state)) &&
        s.get("year").forall(_.contains(f.year)) &&
        s.get("category").forall(_.contains(f.category))
    }
  }

  def checkAnswer(a: Answer): Option[String] = {
    val xs = selected(a.sel)
    val byState = Expect.sumsBy(xs)(_.state)
    val cell = Expect.sumsBy(xs)(x => (x.category, x.state))
    val heatWant = xs.map(_.category).distinct.sorted.map { c =>
      c +: Gen.States.map(s => cell.get((c, s)) match {
        case Some(v) => v.toDouble; case None => null })
    }
    val geo = Geo.map(g => g._1 -> g._4).toMap
    val boxWant = xs.groupBy(_.state).toSeq.sortBy(_._1).map { case (s, fs) =>
      val v = fs.map(_.value.toDouble).sorted.toIndexedSeq
      val Seq(q1, med, q3) = Seq(0.25, 0.5, 0.75).map(Expect.percentile(v, _))
      val lo = q1 - (q3 - q1) * 1.5
      val hi = q3 + (q3 - q1) * 1.5
      (s, v.size.toLong, q1, med, q3, v.filter(_ >= lo).min, v.filter(_ <= hi).max,
        v.count(x => x < lo || x > hi).toLong)
    }
    val boxGot = a.box.toSeq.map(r => (r.getString(0), r.getAs[Long]("n_rows"),
      r.getAs[Double]("q1"), r.getAs[Double]("median"), r.getAs[Double]("q3"),
      r.getAs[Double]("whisker_lo"), r.getAs[Double]("whisker_hi"),
      r.getAs[Long]("n_outliers")))
    val boxOk = boxWant.size == boxGot.size && boxWant.zip(boxGot).forall { case (w, g) =>
      w._1 == g._1 && w._2 == g._2 && Expect.close(w._3, g._3) && Expect.close(w._4, g._4) &&
        Expect.close(w._5, g._5) && w._6 == g._6 && w._7 == g._7 && w._8 == g._8
    }
    val profWant = if (xs.isEmpty) Nil else Seq(
      ("separations", xs.map(_.value).distinct.size.toLong,
        xs.map(_.value).min.toDouble.toString, xs.map(_.value).max.toDouble.toString,
        xs.map(_.value).sum.toDouble / xs.size),
      ("state", xs.map(_.state).distinct.size.toLong,
        xs.map(_.state).min, xs.map(_.state).max, Double.NaN),
      ("year", xs.map(_.year).distinct.size.toLong,
        xs.map(_.year).min.toString, xs.map(_.year).max.toString,
        xs.map(_.year.toLong).sum.toDouble / xs.size))
    val profOk = a.profile.length == profWant.size && a.profile.toSeq.zip(profWant).forall {
      case (r, (c, nd, mn, mx, mean)) =>
        r.getAs[String]("column") == c && r.getAs[Long]("n") == xs.size &&
          r.getAs[Long]("nulls") == 0L && r.getAs[Long]("n_distinct") == nd &&
          r.getAs[String]("min_value") == mn && r.getAs[String]("max_value") == mx &&
          (mean.isNaN || Expect.close(r.getAs[Double]("mean_value"), mean, 1e-6))
    }
    Expect.first(
      Expect.same("insights", Expect.insights(xs), a.insights),
      Expect.same("totalsBy", Expect.sortedTotals(xs)(_.state),
        a.totals.toSeq.map(r => r.getString(0) -> r.getDouble(1))),
      Expect.same("totalsBy2", Expect.sortedTotals(xs)(f => (f.year, f.state)),
        a.totals2.toSeq.map(r => (r.getInt(0), r.getString(1)) -> r.getDouble(2))),
      Expect.same("topKBy", Expect.sumsBy(xs)(_.category).toSeq
          .sortBy { case (k, v) => (-v, k) }.take(10).map { case (k, v) => k -> v.toDouble },
        a.top.toSeq.map(r => r.getString(0) -> r.getDouble(1))),
      Expect.same("heatmap", heatWant, a.heat.toSeq.map(_.toSeq)),
      Expect.same("choropleth", byState.toSeq.sortBy(_._1).map { case (s, v) =>
          (s, v.toDouble, v.toDouble * 1000.0 / geo(s)) },
        a.choropleth.toSeq.map(r => (r.getAs[String]("state"), r.getAs[Double]("separations"),
          r.getAs[Double]("rate_per_1000")))),
      if (boxOk) None else Some(s"boxplot: expected $boxWant got $boxGot"),
      if (profOk) None else Some(s"profile: expected $profWant got ${a.profile.toSeq}"))
  }

  /** (clean, staging) rows the ETL wrote, read once after the loop. */
  private lazy val tables: (Array[Row], Array[Row]) = {
    def load(name: String) = Tables.load(spark, etlOut.getPath, name)
      .select("year", "state", "category", "principal_diagnosis", "sex", "separations")
      .collect()
    (load("clean_admissions"), load("staging_admissions"))
  }

  /** The ETL's tables: clean rows must equal the model's sums key for
    * key; staging rows must be one per numeric cell and add up to the
    * same sums. */
  def checkTables(clean: Array[Row], staging: Array[Row]): Option[String] = {
    lazy val got = Expect.keyedSums(clean)
    // stops at the first failing check
    Expect.same("clean rows", model.sums.size, clean.length)
      .orElse(Expect.same("clean keys distinct", clean.length, got.size))
      .orElse(Expect.sameSums("clean sums", model.sums, got))
      .orElse(Expect.same("staging rows", model.tidyRows, staging.length.toLong))
      .orElse(Expect.sameSums("staging sums", model.sums, Expect.keyedSums(staging)))
  }

  /** Every op's answer, and the tables the ETL wrote. */
  def check(): Verdict = {
    val errs = answers.asScala.toSeq.sortBy(_._1).flatMap { case (i, a) =>
      checkAnswer(a).map(e => s"op $i: $e")
    } ++ checkTables(tables._1, tables._2).map(e => s"set-up: $e")
    Verdict(errs.size, errs)
  }

  def selfTest(): Boolean = answers.asScala.headOption.exists { case (_, a) =>
    val wrongTotals = a.totals.map(r => Row(r.getString(0), r.getDouble(1) + 1.0))
    val wrongInsights = a.insights.map(_.replace("recorded", "reported"))
    val (clean, staging) = tables
    val bumped = clean.updated(0, new GenericRowWithSchema(clean(0).toSeq.map {
      case d: Double => d + 1.0; case x => x }.toArray, clean(0).schema))
    checkAnswer(a).isEmpty &&
      checkAnswer(a.copy(totals = wrongTotals)).nonEmpty &&
      checkAnswer(a.copy(insights = wrongInsights)).nonEmpty &&
      checkAnswer(a.copy(box = a.box.drop(1))).nonEmpty &&
      checkTables(bumped, staging).nonEmpty &&
      checkTables(clean.drop(1), staging).nonEmpty &&
      checkTables(clean, staging.drop(1)).nonEmpty
  }

  private def selectionStats: Map[String, Any] = {
    val sels = answers.asScala.toSeq.sortBy(_._1).map(_._2.sel)
    val seen = scala.collection.mutable.Set[Int]()
    val repeats = sels.count(s => !seen.add(s))
    val sel = sels.map(s => selected(s).size.toDouble / facts.size).sorted
    Map("selection_repeat_share" -> (if (sels.isEmpty) 0.0 else repeats.toDouble / sels.size),
      "selectivity_min" -> sel.headOption.getOrElse(0.0),
      "selectivity_p50" -> Main.median(sel),
      "selectivity_max" -> sel.lastOption.getOrElse(0.0),
      "selection_pool" -> PoolSize)
  }

  def inputProperties: Map[String, Any] = Map(
    "workbooks" -> Workbooks, "matching_sheets" -> Workbooks * 3,
    "sheets" -> Workbooks * 4, "tidy_rows" -> tidyRows, "clean_rows" -> facts.size,
    "bytes" -> inputBytes) ++ selectionStats

  override def layerCounts: Map[String, Any] = Map("io.cache_mem_mb" -> cacheMb)

  override def traceProbes(): Map[String, Double] = EtlSteps.probes(spark, t, in, files)
}
