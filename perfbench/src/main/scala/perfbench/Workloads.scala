package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.{Metrics, Resamplers, TrainHarness}
import graft.pipeline.MimicPipeline

/** What one workload does per iteration. `run` is timed; `check` is not and
  * returns the values the output checks compare; `release` is timed and
  * unpersists everything the harness persisted, whatever `run` got to.
  */
trait Workload {
  def run(s: SparkSession, t: Tracer): Unit
  def check(): Map[String, Any]
  def release(): Unit
}

/** The paper's pipeline per iteration, nothing prebuilt: the 45,059 × 3,019
  * matrix, the 36,047 / 9,012 split, base and random-undersampled L1-LR at
  * λ = 1/(n·0.01), and the AUC and threshold metrics.
  */
final class ReadmissionE2e(seed: Long) extends Workload {
  private val held = ArrayBuffer.empty[DataFrame]  // persisted this iteration
  private var matrix: DataFrame = _
  private var out = Map.empty[String, Any]

  private def fit(t: Tracer, span: String, train: DataFrame, test: DataFrame, n: Long): DataFrame =
    t.span(span) {
      val scored = TrainHarness.logisticL1Scores(
        TrainHarness.compactForFit(train, n), test, "features", "label",
        regParam = 1.0 / (n * 0.01)).cache()
      held += scored
      scored.count()
      scored
    }

  def run(s: SparkSession, t: Tracer): Unit = {
    matrix = t.span("pipeline.matrix")(MimicPipeline.assembledAt(s, 1L))
    held += matrix
    val (train, test, nTrain) = t.span("pipeline.split") {
      val train = matrix.filter(col("split") === "train").select("id", "features", "label")
      val test = matrix.filter(col("split") === "test").select("id", "features", "label")
      (train, test, train.count())
    }
    val (rus, nRus) = t.span("ml.resample") {
      val r = Resamplers.randomUndersample(train, "label", seed)
      (r, r.count())
    }
    val base = fit(t, "ml.fit_base", train, test, nTrain)
    val under = fit(t, "ml.fit_rus", rus, test, nRus)
    out = t.span("ml.metrics") {
      Seq("base" -> base, "rus" -> under).flatMap { case (k, scored) =>
        val m = Metrics.thresholdMetrics(scored, "score", "label", 0.5).collect()(0)
        Seq(
          s"auc_${k}_rank" -> Metrics.aucRoc(scored, "score", "label"),
          s"auc_${k}_pred" -> Metrics.aucRocFromPredictions(scored, "score", "label"),
          s"accuracy_$k" -> m.getAs[Double]("accuracy"),
          s"recall_$k" -> m.getAs[Double]("recall"))
      }.toMap + ("n_train" -> nTrain) + ("n_rus" -> nRus)
    }
  }

  def check(): Map[String, Any] = {
    val width = matrix.select("features").head().getAs[Vector](0).size
    val bySplit = matrix.groupBy("split")
      .agg(count(lit(1)).as("n"), sum(col("label")).cast("long").as("pos"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    out ++ Map(
      "matrix_rows" -> matrix.count(), "width" -> width,
      "n_test" -> bySplit.get("test").fold(-1L)(_._1),
      "pos_train" -> bySplit.get("train").fold(-1L)(_._2),
      "pos_test" -> bySplit.get("test").fold(-1L)(_._2))
  }

  def release(): Unit = {
    held.foreach(_.unpersist(blocking = true))
    held.clear(); matrix = null; out = Map.empty
  }
}

/** Twelve DuckDB-oracled MIMIC registry rows back to back, in an order the
  * seed permutes. Each query is planned (`plan`) and then collected (`exec`).
  */
final class CohortQueries(seed: Long) extends Workload {
  val order: Seq[String] = new scala.util.Random(seed).shuffle(CohortQueries.names)
  private var results = Map.empty[String, (Array[String], Array[Row])]

  def run(s: SparkSession, t: Tracer): Unit = t.span("registry") {
    results = order.map { q =>
      q -> t.span(s"registry.$q") {
        val df = t.span("plan") {
          val df = graft.SparkEntry.queries(q)(s, "")
          df.queryExecution.executedPlan
          df
        }
        (df.schema.fieldNames, t.span("exec")(df.collect()))
      }
    }.toMap
  }

  def check(): Map[String, Any] =
    results.map { case (q, (cols, rows)) =>
      q -> Map("columns" -> cols.toSeq, "rows" -> rows.toSeq.map(_.toSeq))
    }

  def release(): Unit = results = Map.empty
}

object CohortQueries {
  val names: Seq[String] = Seq("cohort_counts", "adm_profile", "ethnicity_top5",
    "diag_categories", "age_hist", "days_hist", "readmit_counts", "split_counts",
    "resample_counts", "notes_vocab", "pipeline_relational",
    "csv_roundtrip").map("mimic_" + _)
}

/** The layers below the matrix build, each timed as its own public call and
  * forced with a no-op write so every column is computed.
  */
object LayerProbe {
  def run(s: SparkSession, t: Tracer): Unit = {
    def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    t.span("sources.modeling_rows")(force(graft.sources.MimicSynth.modelingRowsAt(s, 1L)))
    t.span("sources.notes")(force(graft.sources.MimicSynth.notesAt(s, 1L)))
    t.span("ops.cohort_label")(force(graft.ops.CohortOps.labelNextEvent(
      graft.sources.MimicSynth.admissionsAt(s, 1L), entityCol = "SUBJECT_ID",
      timeCol = "ADMITTIME", typeCol = "ADMISSION_TYPE", tieCol = "HADM_ID",
      excludedType = "ELECTIVE", horizonDays = 30.0, anchorCol = "DISCHTIME")))
  }
}
