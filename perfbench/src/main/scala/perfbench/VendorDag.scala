package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.features.{Scalers, Splits}
import graft.ml.LinearModel
import graft.pipeline._
import graft.quality._

/** The paper's per-dataset MLOps DAG over the seeded vendor datasets.
  * One pass is one full DAG:
  *   - VendorPipeline's pipe_vendor (validate, scale, train, evaluate
  *     for all vendors in one plan), pipe_vendor_artifact (persist the
  *     model, reload it, re-score) and pipe_vendor_onehot (one-hot
  *     audit over the 717 dummy columns);
  *   - per vendor, a generated pipeline (PipelineGenerator) whose
  *     output passes an ExpectationSuite quarantine gate
  *     (GatedPipeline) into the feature stages (Scalers,
  *     Splits.byKeyModulo), then an ml.LinearModel fit and evaluation;
  *   - one ModelArtifacts write of every vendor's model and metrics. */
final class VendorDag extends Workload {
  import VendorDag._

  private lazy val root = VendorPipeline.root
  private def files = VendorPipeline.vendors.flatMap(v =>
    Seq("train", "test").map(sp => s"$root/$v/$sp.parquet"))
  /** Per-vendor outputs of the latest pass, for the verifier. */
  private val results = scala.collection.mutable.LinkedHashMap.empty[String, Row]
  private var artifactBytes = 0L

  def setup(h: Harness): Unit = h.tracer.span("Tables.schema") {
    files.foreach(graft.Tables.schemaFor(h.spark, _))
  }

  def pass(h: Harness): Unit = {
    val s = h.spark
    for (q <- Seq("pipe_vendor", "pipe_vendor_artifact", "pipe_vendor_onehot"))
      h.op("pipeline", q, "pipeline.exec") {
        Some(h.tracer.span(s"pipeline.VendorPipeline.$q")(VendorPipeline.queries(q)(s, "")))
      }
    val configs = VendorPipeline.vendors.map(v => DatasetConfig(v, load(_, v)))
    val derived = h.tracer.span("pipeline.PipelineGenerator.generate") {
      PipelineGenerator.generate(s, configs, cfg => Pipeline(cfg.name, Seq(derive)))
    }
    for (v <- VendorPipeline.vendors) h.op("gated_dag", s"gated_$v") {
      results(v) = gatedDag(h, v, derived(v))
      None
    }
    h.op("artifact", "artifact_write") {
      val rows = VendorPipeline.vendors.map(results)
      val frame = s.createDataFrame(java.util.Arrays.asList(rows: _*), resultSchema)
      val dir = s"${h.work}/artifacts"
      h.tracer.span("pipeline.ModelArtifacts.write") {
        ModelArtifacts.write(frame, dir, s"pass_${h.pass}")
      }
      artifactBytes = du(new java.io.File(s"$dir/run_id=pass_${h.pass}"))
      None
    }
  }

  /** validate (quarantine gate) → features → split → fit → evaluate. */
  private def gatedDag(h: Harness, v: String, in: DataFrame): Row = {
    val t = h.tracer
    val suite = suiteFor(v)
    val report = t.span("quality.ExpectationSuite.run")(suite.run(in).collect())
    val gated = GatedPipeline(Pipeline(v, Seq(features(t))), Map("features" -> (suite, Pipeline.Quarantine)))
    val (out, quarantined) = t.span("pipeline.GatedPipeline.run")(gated.run(in))
    val nQuarantined = t.span("quality.quarantine")(quarantined.map(_._2.count()).sum)
    // the split stage hands a materialized dataset to train and
    // evaluate, as the DAG's tasks do
    val split = t.span("features.materialize") { val d = out.persist(); d.count(); d }
    val train = split.filter(col("split") === "train")
    val test = split.filter(col("split") === "test")
    val (icept, slopes) = t.span("ml.LinearModel.fit")(LinearModel.fitMulti(train, xs, "trip_duration"))
    val ev = t.span("ml.LinearModel.evaluate") {
      LinearModel.evaluate(LinearModel.predictMulti(test, (icept, slopes), xs), "trip_duration", "prediction")
        .head()
    }
    split.unpersist(blocking = true)
    val failed = report.count(_.getAs[Long]("success") == 0L)
    Row(v, icept, slopes(0), slopes(1), slopes(2), ev.getAs[Double]("rmse"),
      ev.getAs[Double]("mae"), ev.getAs[Double]("r2"), nQuarantined, failed.toLong)
  }

  def dump(h: Harness, out: String): Unit = {
    h.dumpRows(s"$out/rows")
    val oracles = Seq("pipe_vendor", "pipe_vendor_artifact", "pipe_vendor_onehot")
      .map(q => Json.str(q) + ":" + Json.str(VendorPipeline.oracles(q)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracles.json"),
      oracles.mkString("{", ",\n", "}"))
    val rows = VendorPipeline.vendors.map(results)
    h.spark.createDataFrame(java.util.Arrays.asList(rows: _*), resultSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$out/gated")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/artifact_bytes"),
      artifactBytes.toString)
  }
}

object VendorDag {
  val xs = Seq("passenger_count", "hour_z", "distance_z")
  private val weekday = (0 until 7).map(i => s"weekday_$i")
  private val narrow = Seq("__index_level_0__", "trip_duration",
    "passenger_count", "hour", "distance") ++ weekday ++ Seq("Q_1", "Q_2")

  /** Ingest: one vendor's train split, the columns the DAG uses. */
  def load(s: SparkSession, v: String): DataFrame = {
    val p = s"${VendorPipeline.root}/$v/train.parquet"
    s.read.schema(graft.Tables.schemaFor(s, p)).parquet(p).select(narrow.map(col): _*)
  }

  /** Row-level one-hot family sums the gate checks. */
  val derive: Stage = Stage("derive")(df => df
    .withColumn("onehot_weekday", weekday.map(c => col(c).cast("int")).reduce(_ + _))
    .withColumn("onehot_q", col("Q_1").cast("int") + col("Q_2").cast("int")))

  def suiteFor(v: String): ExpectationSuite = ExpectationSuite(s"vendor_$v", Seq(
    ExpectNotNull("trip_duration"),
    ExpectBetween("distance", 0.0, 1000.0),
    ExpectBetween("passenger_count", 1.0, 9.0),
    ExpectBetween("onehot_weekday", 1.0, 1.0),
    ExpectBetween("onehot_q", 1.0, 1.0)))

  /** Feature stage: z-scored hour and distance, key-modulo split. */
  def features(t: Tracer): Stage = Stage("features")(df => t.span("features.construct") {
    Splits.byKeyModulo(
      Scalers.zscore(Scalers.zscore(df, "hour", "hour_z"), "distance", "distance_z"),
      "__index_level_0__")
  })

  val resultSchema: StructType = StructType(Seq(
    StructField("vendor", StringType), StructField("intercept", DoubleType),
    StructField("b_pc", DoubleType), StructField("b_hour", DoubleType),
    StructField("b_dist", DoubleType), StructField("rmse", DoubleType),
    StructField("mae", DoubleType), StructField("r2", DoubleType),
    StructField("n_quarantined", LongType), StructField("failed_expectations", LongType)))

  def du(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).fold(0L)(_.map(du).sum) else f.length
}
