package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.ops.Tables
import graft.pipelines.{CovidDataTransform, CovidSimulator, WeatherForecast}
import graft.queries._

/** One timed unit of work: a board row's `.count()` or one pipeline stage.
  * `run` returns what the output check needs; `check` returns an error
  * message for a wrong result. Neither the check nor the cleanup after
  * an op is timed. */
final case class Op(name: String, group: String, run: () => Any,
    check: Any => Option[String])

/** A workload: how to resolve its inputs during set-up, the ops of one
  * pass, whether cleanup runs after every op or once per pass, and the
  * optional content-hash check of the traced run. */
trait Workload {
  def resolveInputs(spark: SparkSession): Unit
  def pass(spark: SparkSession): Seq[Op]
  def isolateEachOp: Boolean
  def hashOps(spark: SparkSession): Seq[Op] = Nil
}

object Workloads {
  /** The rows of the board workload, selected by query object: each
    * entry is a stride and query objects in registry order, and the
    * workload keeps every stride-th row of those objects (the first
    * included), so that a pass fits the run length. The SQL/DataFrame
    * objects give driver-bound rows (analysis, planning, codegen, per-job
    * cost); the graph kernels, the sources and sinks and the micro-batch
    * rows give executor-bound ones. */
  val board: Seq[(Int, Seq[(String, Seq[graft.Q])])] = Seq(
    48 -> Seq(
      "RelationalQueries" -> RelationalQueries.all,
      "JoinQueries" -> JoinQueries.all,
      "AggQueries" -> AggQueries.all,
      "WindowQueries" -> WindowQueries.all,
      "ScalarFuncQueries" -> ScalarFuncQueries.all,
      "SqlSurfaceQueries" -> SqlSurfaceQueries.all,
      "HeadlineQueries" -> HeadlineQueries.all,
      "TpchQueries" -> TpchQueries.all),
    13 -> Seq("GraphQueries" -> GraphQueries.all),
    20 -> Seq(
      "SourceQueries" -> SourceQueries.all,
      "EventQueries" -> EventQueries.all))
  /** The board's rows as (query object, row name), in registry order. */
  val boardRows: Seq[(String, String)] = board.flatMap { case (stride, objects) =>
    objects.flatMap { case (obj, qs) => qs.map(q => obj -> q.name) }
      .zipWithIndex.collect { case (r, i) if i % stride == 0 => r }
  }
  /** The query objects the board runs rows of. */
  val allObjects: Seq[String] = boardRows.map(_._1).distinct.sorted

  def apply(name: String, a: Args): Workload = name match {
    case "pipeline" => new PipelineWorkload(a)
    case "board" => new BoardWorkload(boardRows, a)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected board or pipeline)")
  }
}

/** Expected row count and content hash of each board row, recorded from
  * a run whose outputs the DuckDB oracle confirmed. */
final case class Expected(count: Long, hash: String)

object Expected {
  private val Line = """\s*"([^"]+)"\s*:\s*\{\s*"count"\s*:\s*(\d+)\s*,\s*"hash"\s*:\s*"([^"]*)"\s*\}\s*,?\s*""".r
  def load(path: String): Map[String, Expected] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).toArray.toSeq.map(_.toString)
      .collect { case Line(n, c, h) => n -> Expected(c.toLong, h) }.toMap
  def write(path: String, rows: Seq[(String, Expected)]): Unit = {
    val body = rows.toMap.toSeq.sortBy(_._1).map { case (n, e) =>
      s"""  "$n": {"count": ${e.count}, "hash": "${e.hash}"}"""
    }.mkString("{\n", ",\n", "\n}\n")
    Files.writeString(Paths.get(path), body)
  }

  /** Order-insensitive hash of a result: the sum of xxhash64 over each
    * row's JSON rendering, with the row count. */
  def contentHash(df: DataFrame): String = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val r = renamed
      .select(xxhash64(to_json(struct(renamed.columns.map(col): _*)))
        .cast(DecimalType(38, 0)).as("h"))
      .agg(coalesce(sum("h"), lit(BigDecimal(0))).cast("string"), count(lit(1)))
      .head()
    s"${r.getString(0)}/${r.getLong(1)}"
  }
}

final class BoardWorkload(selected: Seq[(String, String)], a: Args) extends Workload {
  private val rows: Seq[(String, String)] =
    if (a.seed == 0) selected
    else new scala.util.Random(a.seed).shuffle(selected)
  private val expected = Expected.load(a.expected)
  private val fns = SparkEntry.queries
  val isolateEachOp = true

  def rowNames: Seq[String] = rows.map(_._2)

  def resolveInputs(spark: SparkSession): Unit =
    Tables.names.foreach(t => Tables.load(spark, a.data, t).schema)

  /** Compares a result with the recorded one; a record run checks nothing. */
  private def verify(row: String, what: String, got: String,
      want: Expected => String): Option[String] =
    if (a.record.nonEmpty) None
    else expected.get(row) match {
      case None => Some(s"$row: no expected $what")
      case Some(e) if want(e) != got => Some(s"$row: $what $got, expected ${want(e)}")
      case _ => None
    }

  def pass(spark: SparkSession): Seq[Op] = rows.map { case (obj, row) =>
    Op(row, obj, () => fns(row)(spark, a.data).count(),
      n => verify(row, "row count", n.toString, _.count.toString))
  }

  override def hashOps(spark: SparkSession): Seq[Op] = rows.map { case (obj, row) =>
    Op(row, obj, () => Expected.contentHash(fns(row)(spark, a.data)),
      h => verify(row, "content hash", h.toString, _.hash))
  }
}

/** The reference chain weather -> transform -> simulate on generated
  * inputs, handing off through CSV files as the reference does. */
final class PipelineWorkload(a: Args) extends Workload {
  val isolateEachOp = false
  private val root: Path = Paths.get(a.work, "pipeline")
  private val horizon = 180
  private val nTest = 30
  private val seriesSchema = StructType(Seq(
    StructField("series", StringType), StructField("date", IntegerType),
    StructField("value", DoubleType)))
  private val contract = Seq("date", "country_region", "province_state",
    "confirmed", "recovered", "death", "population", "TAVG", "date_idx",
    "location_name")

  private def csvIn(spark: SparkSession, p: String): DataFrame =
    spark.read.option("header", true).option("inferSchema", true).csv(p)
  private def seriesIn(spark: SparkSession): DataFrame =
    spark.read.schema(seriesSchema).option("header", true)
      .csv(s"${a.inputs}/weather/series.csv")
  /** Series in the generated inputs; the forecast has `horizon` rows of
    * each. Counted once, by the first weather check. */
  private lazy val nSeries: Long =
    seriesIn(SparkSession.active).select("series").distinct().count()

  def resolveInputs(spark: SparkSession): Unit = {
    Files.createDirectories(root)
    val link = root.resolve("data")
    if (!Files.exists(link))
      Files.createSymbolicLink(link, Paths.get(a.inputs, "data").toAbsolutePath)
    seriesIn(spark).schema
  }

  def pass(spark: SparkSession): Seq[Op] = {
    val futurePredPath = root.resolve("output/weather_output/future_pred.csv").toString
    val datasetFullPath = root.resolve("data_out/dataset_full.csv").toString
    var futurePred: DataFrame = null
    var feats: DataFrame = null
    var coefs: DataFrame = null
    val (nSteps, hidden, epochs, patience) = a.lstm
    Seq(
      Op("weather", "pipelines", () => {
        val (_, fp, _) = WeatherForecast.run(spark, seriesIn(spark), minRows = 60,
          nTest = nTest, horizon = horizon, model = "lstm", nSteps = nSteps,
          hidden = hidden, epochs = epochs, patience = patience)
        futurePred = fp
        fp.count()
      }, {
        case n: Long if n != nSeries * horizon =>
          Some(s"weather: $n forecast rows, expected $nSeries series x $horizon")
        case _ => None
      }),
      Op("handoff", "pipelines", () => {
        val parts = split(col("series"), " : ")
        futurePred.select(col("pred").as("TAVG_pred"), parts(1).as("state"),
            col("date"), parts(0).as("country"), col("date_idx"))
          .write.mode("overwrite").option("header", true).csv(futurePredPath)
      }, _ => None),
      Op("transform", "pipelines", () =>
        CovidDataTransform.run(spark, root.toString)
          .write.mode("overwrite").option("header", true).csv(datasetFullPath),
        _ => {
          val ds = csvIn(spark, datasetFullPath)
          val bad = ds.groupBy("location_name")
            .agg(max("date_idx").as("mx"), countDistinct("population").as("npop"),
              min("population").as("minpop"))
            .filter(col("mx") =!= horizon - 1 || col("npop") =!= 1 || col("minpop") <= 0)
            .count()
          val n = ds.count()
          if (ds.columns.toSeq != contract) Some(s"transform: columns ${ds.columns.mkString(",")}")
          else if (n == 0) Some("transform: empty dataset_full")
          else if (bad != 0) Some(s"transform: $bad locations without the full horizon")
          else None
        }),
      Op("features", "pipelines", () => {
        feats = CovidSimulator.features(spark, csvIn(spark, datasetFullPath)).cache()
        feats.count()
      }, {
        case n: Long if n == 0 => Some("features: no rows")
        case _ => None
      }),
      Op("coefficients", "pipelines", () => {
        coefs = CovidSimulator.coefficients(feats).cache()
        coefs.count()
      }, {
        case n: Long if n == 0 => Some("coefficients: no states")
        case _ => None
      }),
      Op("simulate", "pipelines", () =>
        CovidSimulator.simulate(feats, coefs)
          .agg(count(lit(1)), sum(when(col("pred_removed") < 0, 1).otherwise(0)))
          .head(), {
        case r: org.apache.spark.sql.Row if r.getLong(0) == 0 => Some("simulate: no rows")
        case r: org.apache.spark.sql.Row if r.getLong(1) != 0 =>
          Some(s"simulate: ${r.getLong(1)} rows with pred_removed < 0")
        case _ => None
      }))
  }
}
