package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{Conform, Validate}
import graft.pipeline.{RatingsPipeline, TaskRunner}
import graft.sinks.{Compactor, PartitionedWriter, UpsertWriter}
import graft.sources.{XmlRecordSource, ZipSource}

/** What a timed op hands back: a frame whose digest is checked against
  * the expected one (untimed, after the last pass), or the problems the
  * op found while checking its own output. */
sealed trait Out
final case class Frame(df: DataFrame) extends Out
final case class Checked(problems: Seq[String]) extends Out

/** One op: a declared query, or one public pipeline or sink call. */
final case class Op(name: String, run: Phases => Out)

/** Ops of one pass, in groups. Ops within a group are independent and
  * run in a seed-shuffled order; groups run in order. `check` runs
  * untimed after the group, every pass. */
final case class Group(ops: Seq[Op], check: () => Seq[String] = () => Nil)

/** Splits an op into the segments the traced run reports. In an
  * untraced pass the segments run untimed and `plan` is skipped. */
final class Phases(val traced: Boolean) {
  val segments = mutable.ArrayBuffer.empty[(String, Long, Long)] // name, start/end nanos

  def seg[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val t0 = System.nanoTime()
      try body finally segments += ((name, t0, System.nanoTime()))
    }

  /** Eager construction: the query function itself. */
  def construct[T](body: => T): T = seg("construct")(body)
  /** Catalyst analysis, optimization and physical planning. */
  def plan(df: DataFrame): Unit = if (traced) seg("plan")(df.queryExecution.executedPlan)
  /** Job execution: the action that materializes the result. */
  def exec[T](body: => T): T = seg("exec")(body)
}

trait Workload {
  def groups(pass: Int): Seq[Group]
  /** Result rows one pass delivers, given each query op's row count,
    * and the ops whose time they are counted over (None = every op),
    * for `rows_per_s`. */
  def rowsPerPass(rows: Map[String, Long]): (Long, Option[Set[String]]) = (rows.values.sum, None)
  /** Per-pass observations beyond the listeners (lake_ingest's layout). */
  val notes: mutable.Map[Int, mutable.Map[String, Double]] = mutable.Map.empty
  def note(pass: Int, k: String, v: Double): Unit =
    notes.getOrElseUpdate(pass, mutable.Map.empty)(k) = v
}

object Workloads {
  /** 28 read-only relational queries: short queries where the Spark
    * driver dominates; they bypass the memo and trainer caches, the sinks and
    * streaming. Not in BENCHMARK.json: a run of it does not fit the
    * evaluation's time budget beside the other two (see README). */
  val SqlAnalyst: Seq[String] = Seq(
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q4_late_orders", "q5_local_supplier", "q6_revenue_band", "q7_period_volume",
    "q9_product_profit", "q10_returned", "q11_important_parts",
    "q13_cust_distribution", "q14_promo_share", "q15_top_supplier",
    "q16_supplier_variety", "q17_small_qty", "q18_big_orders", "q19_disjunctive",
    "q20_dominant_supplier", "q21_late_solo_supplier",
    "q_topk_native", "q_topk_rewrite", "q_rollup", "q_cube", "q_percentiles",
    "q_delta_mom", "q_equidepth", "q_basket_affinity", "q_skew_join")

  /** LLM-data operators: the work is in the operator and expression
    * kernels and in the memo layer (k-means/PQ trainer caches for the
    * IVF ops, PlanCache for the media table), so the cold pass is much
    * slower than warm ones. */
  val CorpusOps: Seq[String] = Seq(
    "ann_ivf_pq", "knn_classify_ivf", "dedup_exact", "dedup_simhash",
    "text_lang_id", "text_quality", "text_normalize", "mm_image_meta")

  /** State-store query run by lake_ingest beside the ratings path. */
  val StreamOps: Seq[String] = Seq("ev_stream_dedup")

  def query(spark: SparkSession, sf: String, name: String): Op = Op(name, ph => {
    val df = ph.construct(SparkEntry.queries(name)(spark, sf))
    ph.plan(df)
    ph.exec(df.write.format("noop").mode("overwrite").save())
    Frame(df)
  })

  final class Queries(spark: SparkSession, sf: String, names: Seq[String]) extends Workload {
    private val ops = names.map(query(spark, sf, _))
    def groups(pass: Int): Seq[Group] = Seq(Group(ops))
  }

  /** A deliberately failing op and nothing else wrong with it; the
    * benchmark's own test adds it to prove failures are counted. */
  val Throwing: Op = Op("injected_failure", _ => sys.error("injected failure"))
}

/** The write path: seeded zipped-XML ratings drops, ingested period by
  * period into a fresh lake each pass, re-run (must skip), corrected
  * by an upsert, compacted, then read back by the leaderboards and the
  * backfill planner; the state-store queries run beside it. */
final class LakeIngest(spark: SparkSession, sf: String, work: String, drops: String)
    extends Workload {
  import LakeIngest._

  private val spec = Json.read(drops)
  private val periods: Seq[Period] = spec.get("periods").elements().asScala.toSeq.map { p =>
    Period(p.get("tag").asText, p.get("year").asInt, p.get("month").asInt, p.get("glob").asText,
      p.get("rows").asLong, p.get("leaderboard").asText,
      p.get("report").fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap)
  }
  private val corrected = spec.get("corrected")
  private val missing = spec.get("missing")
  val xmlBytes: Long = spec.get("xml_bytes").asLong
  val rowsLanded: Long = periods.map(_.rows).sum

  private def lake(pass: Int) = s"$work/pass$pass/lake"
  private def memo(pass: Int) = s"$work/pass$pass/memo"

  private def fs(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFiles(root: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val it = fs(root).listFiles(new Path(root), true)
    val out = mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    while (it.hasNext) {
      val f = it.next()
      if (!f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")) out += f
    }
    out.toSeq
  }

  override def rowsPerPass(rows: Map[String, Long]): (Long, Option[Set[String]]) =
    (rowsLanded, Some(periods.map(p => s"ingest_${p.tag}").toSet))

  private def reportProblems(p: Period, report: Array[org.apache.spark.sql.Row]): Seq[String] = {
    val got = report.map(r => s"${r.getString(1)}:${r.getString(2)}" -> r.getLong(3)).toMap
    if (got == p.report) Nil else Seq(s"validation report $got, expected ${p.report}")
  }

  /** `ingestPeriodCached`, or in a traced pass the same steps called
    * layer by layer (parse, conform+validate, write) so each is timed. */
  private def ingest(pass: Int, p: Period): Op = Op(s"ingest_${p.tag}", ph => {
    if (!ph.traced) {
      val report = ph.exec(RatingsPipeline.ingestPeriodCached(spark, p.glob, lake(pass),
        p.year, p.month, memo(pass)).map(_.collect()))
      report match {
        case Some(r) => Checked(reportProblems(p, r))
        case None => Checked(Seq("first ingest of the period was skipped"))
      }
    } else {
      val fp = TaskRunner.inputFingerprint(spark, p.glob)
      var problems = Seq("first ingest of the period was skipped")
      TaskRunner.memoize(spark, memo(pass), s"ingest_${p.year}_${p.month}", fp,
        revalidate = () => TaskRunner.inputFingerprint(spark, p.glob)) {
        val raw = ph.seg("parse") {
          val r = parse(spark, p.glob).persist()
          r.count()
          r
        }
        val conformed = conform(raw, p.year, p.month)
        val report = ph.seg("conform_validate")(
          Validate.report("ratings", conformed, RatingsPipeline.RatingRules).collect())
        ph.seg("write")(PartitionedWriter.write(conformed, lake(pass),
          Seq("period_year", "period_month")))
        raw.unpersist()
        problems = reportProblems(p, report)
      }
      Checked(problems)
    }
  })

  private def rowsLandedCheck(pass: Int)(): Seq[String] = {
    val got = spark.read.parquet(lake(pass)).groupBy("period_year", "period_month").count()
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val want = periods.map(p => (p.year, p.month) -> p.rows).toMap
    if (got == want) Nil else Seq(s"rows landed per period $got, expected $want")
  }

  def groups(pass: Int): Seq[Group] = {
    val lakePath = lake(pass)
    val rerun = Op("rerun_skip", ph => Checked(ph.seg("skip") {
      val ran = periods.filter(p => RatingsPipeline.ingestPeriodCached(spark, p.glob, lakePath,
        p.year, p.month, memo(pass)).isDefined)
      ran.map(p => s"re-run over unchanged drops ingested ${p.tag} again")
    }))
    val upsert = Op("upsert", ph => {
      val (y, m) = (corrected.get("year").asInt, corrected.get("month").asInt)
      val touched = ph.seg("upsert")(UpsertWriter.upsert(
        conform(parse(spark, corrected.get("glob").asText), y, m), lakePath,
        Seq("fide_id"), Seq("period_year", "period_month"), "period_month"))
      Checked(if (touched == 1L) Nil else Seq(s"upsert rewrote $touched partitions, expected 1"))
    })
    val compact = Op("compact", ph => {
      val before = dataFiles(lakePath)
      val res = ph.seg("compact")(Compactor.compactLake(spark, lakePath))
      note(pass, "files_written", before.size)
      note(pass, "files_before", res.map(_.filesBefore).sum)
      note(pass, "files_after", res.map(_.filesAfter).sum)
      val left = res.filter(_.filesAfter != 1).map(_.dir)
      Checked(if (left.isEmpty) Nil else Seq(s"partitions left uncompacted: $left"))
    })
    val boards = periods.map { p =>
      Op(s"leaderboard_${p.tag}", ph => {
        val df = ph.construct(RatingsPipeline.leaderboard(spark, lakePath, p.year, p.month, 100))
        ph.plan(df)
        ph.exec(df.write.format("noop").mode("overwrite").save())
        Frame(df)
      })
    }
    val backfill = Op("missing_periods", ph => {
      val (s, e) = (missing.get("start"), missing.get("end"))
      val df = ph.construct(RatingsPipeline.missingPeriods(spark, lakePath,
        s.get(0).asInt, s.get(1).asInt, e.get(0).asInt, e.get(1).asInt))
      ph.plan(df)
      ph.exec(df.write.format("noop").mode("overwrite").save())
      Frame(df)
    })
    val streams = Workloads.StreamOps.map(Workloads.query(spark, sf, _))
    Seq(
      Group(periods.map(ingest(pass, _)), rowsLandedCheck(pass)),
      Group(Seq(rerun)), Group(Seq(upsert)), Group(Seq(compact)),
      Group(boards ++ Seq(backfill) ++ streams))
  }

  /** Expected digests of the leaderboard and backfill ops. */
  def expected: Map[String, String] =
    periods.map(p => s"leaderboard_${p.tag}" -> p.leaderboard).toMap +
      ("missing_periods" -> missing.get("digest").asText)

  /** Measure the lake of a finished pass, then drop it; the next pass
    * starts fresh. */
  def cleanup(pass: Int): Unit = {
    note(pass, "lake_bytes", dataFiles(lake(pass)).map(_.getLen).sum.toDouble)
    fs(work).delete(new Path(s"$work/pass$pass"), true)
  }
}

object LakeIngest {
  final case class Period(tag: String, year: Int, month: Int, glob: String, rows: Long,
                          leaderboard: String, report: Map[String, Long])

  /** The raw fields of a ratings record, as `RatingsPipeline` reads them. */
  val RawFields: Seq[String] =
    Seq("fideid", "name", "country", "sex", "title", "rating", "games", "k", "birthday")

  def parse(spark: SparkSession, glob: String): DataFrame = {
    import spark.implicits._
    val xml = ZipSource.entries(spark, glob)
      .where(col("entry").endsWith(".xml"))
      .select(decode(col("content"), "UTF-8").as("xml")).as[String]
    XmlRecordSource.read(xml, "player", RawFields)
  }

  def conform(raw: DataFrame, year: Int, month: Int): DataFrame =
    Conform(raw, RatingsPipeline.ConformRatings.copy(enrich = Seq(
      "period_year" -> lit(year), "period_month" -> lit(month))))
}
