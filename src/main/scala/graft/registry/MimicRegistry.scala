package graft
package registry

import graft.core.Tables
import graft.dedup.Dedup
import graft.functions.VectorOps
import graft.ops.{CohortOps, Recodes}
import graft.pipeline.MimicPipeline.{firstAdmission, icd9Category, icd9CategorySql,
  mimicCode3Sql, topWords, withAge}
import graft.sources.MimicSynth.survivor
import graft.sim.{Quantized, Similarity}
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** the MIMIC-shaped reference-scale pipeline rows — one slice of the driver registry.
  *
  * Split out of Shared.scala in r12 (maintainability: the single file
  * had reached 8.7k lines); SparkEntry composes the slices back into the
  * same `queries`/`oracleSql` maps. The MIMIC derivations these rows
  * share (cohort label, survivor filter, note tokens, ICD-9 recode, age,
  * top-3,000 cut) are defined once in MimicSynth and MimicPipeline.
  */
private[graft] object MimicRegistry {
  import Shared._

  /** HADM_IDs of the surviving admissions that carry a diagnosis — the
    * 45,076-row cohort the vocabulary rows count tokens over.
    */
  private def diagnosedSurvivors(s: SparkSession): DataFrame =
    graft.sources.MimicSynth.admissions(s).filter(survivor)
      .join(graft.sources.MimicSynth.diagnoses(s).select("HADM_ID"),
        Seq("HADM_ID"), "left_semi")
      .select(col("HADM_ID"))

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // scale (58,976 admissions; sources/MimicSynth.scala): the engine's
    // §3 answers checked against the reference's ACTUAL golden
    // cardinalities, not a TPC-H analog. Both engines generate the
    // tables from identical md5-hash arithmetic, so every row below is
    // exactly DuckDB-oracled end-to-end (generation + pipeline). ====

    // the reference's flagship labeling (py:39-86 + the py:77/267-269
    // filters): lead/skip-ELECTIVE/backfill windows anchored on
    // DISCHARGE, 30-day label, death + newborn exclusions, then the
    // DIAGNOSES_ICD inner join (cell 22 — drops the 245 no-diagnosis
    // admissions from the 45,321 filtered rows). Golden: cohort 45,076 =
    // 2,958 pos + 42,118 neg, EXACTLY the reference's published counts
    // (MimicSynthSpec pins them); hadm_sum pins WHICH admissions, not
    // just how many
    "mimic_cohort_counts" -> ((s, d) =>
      graft.sources.MimicSynth.cohort(s).filter(survivor)
        .join(graft.sources.MimicSynth.diagnoses(s).select("HADM_ID"),
          Seq("HADM_ID"), "left_semi")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), sum(col("HADM_ID")).as("hadm_sum"))),

    // admissions profile: per-type counts and in-hospital deaths
    // (py:79-84 death readout; 7,863 NEWBORN rows = MIMIC-III's own)
    "mimic_adm_profile" -> ((s, d) =>
      graft.sources.MimicSynth.admissions(s)
        .groupBy(col("ADMISSION_TYPE").as("admission_type"))
        .agg(count(lit(1)).as("n_adm"),
          sum(when(col("DEATHTIME").isNotNull, 1L).otherwise(0L)).as("n_death"))),

    // the reference's three-stage ethnicity collapse (py:102-108): E5
    // regex recodes in the reference's ORDER, E6 isin collapse, P13
    // top-5-else — over the death/newborn-filtered cohort, exactly as
    // cells 7-9 sequence it
    "mimic_ethnicity_top5" -> ((s, d) => {
      val adm = graft.sources.MimicSynth.admissions(s).filter(survivor)
      val recoded = adm.withColumn("eth",
        when(col("ETHNICITY").rlike("^ASIAN"), "ASIAN")
          .when(col("ETHNICITY").rlike("^WHITE"), "WHITE")
          .when(col("ETHNICITY").rlike("^HISPANIC"), "HISPANIC/LATINO")
          .when(col("ETHNICITY").rlike("^BLACK"), "BLACK/AFRICAN AMERICAN")
          .when(col("ETHNICITY").isin("UNABLE TO OBTAIN", "OTHER",
            "PATIENT DECLINED TO ANSWER", "UNKNOWN/NOT SPECIFIED"), "OTHER/UNKNOWN")
          .otherwise(col("ETHNICITY")))
      graft.ops.Recodes.topKOrElse(recoded, "eth", 5, "OTHER/UNKNOWN")
        .groupBy(col("eth").as("ethnicity")).agg(count(lit(1)).as("n"))
    }),

    // the reference's ICD-9 18-category recode (py:120-147): alpha/null
    // codes → 999, 3-digit slice, FIRST-matching inclusive range —
    // V/E codes landing in 'injury' via the 999 bucket is the
    // reference's own (faithfully replicated) behavior
    "mimic_diag_categories" -> ((s, d) =>
      graft.sources.MimicSynth.diagnoses(s).withColumn("cat", icd9Category)
        .groupBy("cat")
        .agg(count(lit(1)).as("n_codes"),
          countDistinct(col("HADM_ID")).as("n_adm"))),

    // age at first (surviving) admission with the reference's >89
    // date-shift clamp (py:205-215: the pandas int64-ns overflow form),
    // age != 0 filter, per-age histogram
    "mimic_age_hist" -> ((s, d) =>
      withAge(firstAdmission(graft.sources.MimicSynth.admissions(s).filter(survivor))
        .join(graft.sources.MimicSynth.patients(s), Seq("SUBJECT_ID")))
        .filter(col("age") =!= 0)
        .groupBy("age").agg(count(lit(1)).as("n"))),

    // the last reference plot input (py:66-70): the 30-day-binned
    // DAYS_NEXT_ADMIT histogram — `plt.hist(days, bins=range(0,365,30))`
    // over the PRE-FILTER labeled frame (the hist precedes the py:77
    // death filter, so NEWBORN/death rows are in). matplotlib semantics
    // reproduced exactly: edges 0,30,..,360, values outside [0,360]
    // dropped, and the LAST bin [330,360] right-INCLUSIVE (the
    // least(...,11) clamp)
    "mimic_days_hist" -> ((s, d) =>
      graft.sources.MimicSynth.cohort(s)
        .filter(col("days_next").isNotNull &&
          col("days_next") >= 0 && col("days_next") <= 360)
        .withColumn("bin_days",
          (least(floor(col("days_next") / 30.0), lit(11L)) * 30).cast("long"))
        .groupBy("bin_days").agg(count(lit(1)).as("n"))),

    // the py:75-76 readout over the same pre-filter frame: "Number with a
    // readmission / Total Number" — count of non-null DAYS_NEXT_ADMIT vs
    // all admissions (NEWBORN/death rows included; the filters come later)
    "mimic_readmit_counts" -> ((s, d) =>
      graft.sources.MimicSynth.cohort(s)
        .agg(
          sum(when(col("days_next").isNotNull, 1L).otherwise(0L)).as("n_readmit"),
          count(lit(1)).as("n_total"))),

    // the reference's 80/20 split golden (BASELINE.md "train / test"):
    // the 45,059 modeling rows (cohort − the 17 missing-DOB dropna rows)
    // hash-split to EXACTLY train 36,047 / test 9,012 with 2,360 / 598
    // positives — the published seed-42 counts; hadm_sum pins membership
    "mimic_split_counts" -> ((s, d) =>
      graft.sources.MimicSynth.modelingRows(s)
        .groupBy("split")
        .agg(count(lit(1)).as("n"),
          sum(col("label").cast("long")).as("n_pos"),
          sum(col("HADM_ID")).as("hadm_sum"))),

    // the reference's resampling-cardinality goldens (py:447-455,
    // :683-687): balanced undersample = 2 × train positives = 4,720;
    // oversample = 2 × train negatives = 33,687 + 33,687 — count
    // identities of the split, so exactly oracle-able (the sampled
    // MEMBERSHIP is the RNG surface, pinned by the o4/o8 hash-twins)
    "mimic_resample_counts" -> ((s, d) => {
      val t = graft.sources.MimicSynth.modelingRows(s)
        .filter(col("split") === "train")
        .agg(sum(col("label").cast("long")).as("tp"),
          sum(lit(1L) - col("label").cast("long")).as("tn"))
      t.select(lit("base").as("strategy"), (col("tp") + col("tn")).as("n_train"),
          col("tp").as("n_pos"), col("tn").as("n_neg"))
        .unionByName(t.select(lit("undersample").as("strategy"),
          (col("tp") * 2).as("n_train"), col("tp").as("n_pos"), col("tp").as("n_neg")))
        .unionByName(t.select(lit("oversample").as("strategy"),
          (col("tn") * 2).as("n_train"), col("tn").as("n_pos"), col("tn").as("n_neg")))
    }),

    // §3.3 at reference scale (rows-only — MLlib LR internals): L1 LR on
    // the 45,059 × 3,019 matrix, base vs balanced-undersampled train,
    // at the sklearn-faithful regularization (λ = 1/(n·C) at the CV-
    // winning C = 0.01). Emits BOTH the probability-ranking AUC and the
    // reference's published readout — roc_curve on BINARY predictions =
    // (recall+specificity)/2, the metric behind its 0.501 → 0.640
    // finding: the imbalanced base fit predicts ~all-negative at 0.5 (so
    // auc_pred ≈ 0.5 even though its RANKING is informative), while the
    // balanced train predicts both classes. Bands pinned in
    // MimicTrainSpec.
    "mimic_train_bench" -> ((s, d) => {
      val (train, test) = graft.pipeline.MimicPipeline.trainTest(s)
      import s.implicits._
      // r14: the two strategies are independent seeded fits over the
      // memoized matrix — overlap them (TrainHarness.inParallel, guide
      // §2.6). Same fits, same AUCs.
      graft.ml.TrainHarness.inParallel(Seq("base", "undersample")) { name =>
        graft.ml.TrainHarness.fitStrategy(name, train, test, "id", "features", "label",
            42L, (_, n) => graft.ml.TrainHarness.sklearnReg(n, 0.01)) { f =>
          (name, f.n, math.round(f.aucRoc * 1000) / 1000.0,
            math.round(f.predAuc * 1000) / 1000.0)
        }
      }.toDF("strategy", "n_train", "auc_roc", "auc_pred")
    }),

    // M8 at the reference's EXACT published benchmark config (rows-only):
    // 4-value L1 grid × 5 folds = 20 LR fits on the 36,047 × 3,019 train
    // matrix — the reference's only wall-clock golden (~6.0 min,
    // ipynb cell 64); this row is the 1:1 BENCH comparable at identical
    // data scale and shape
    "mimic_cv_grid" -> ((s, d) => {
      val raw = graft.pipeline.MimicPipeline.trainTest(s)._1.select("features", "label")
      // compacted before the grid: the memoized matrix carries the
      // session's shuffle-partition count, and 20 L-BFGS fits over a
      // 36k-row frame in 32 near-empty partitions are a per-iteration
      // task swarm (measured 33.6 s vs 11.6 s on the same HEAD after
      // compaction); compactForFit targets ~8k rows/task, capped at the
      // input's own parallelism — at real cluster train sizes it never
      // binds
      val train = graft.ml.TrainHarness.compactForFit(raw, 36047L)
      Materialize.scoped(train) {
        train.count()
        val (bestReg, bestAcc) = graft.ml.TrainHarness.gridSearchLr(
          train, "features", "label", regParams = Seq(10.0, 1.0, 0.1, 0.01),
          numFolds = 5, parallelism = 8)
        import s.implicits._
        Seq((bestReg, bestAcc)).toDF("best_reg_param", "best_cv_accuracy")
      }
    }),

    // M5/M6 at reference scale (rows-only — tree RNG): RF on the
    // balanced-undersampled 4,720 × 3,019 train at the reference's
    // headline tree counts (their cell-40 config: n=300, AUC 0.695;
    // sklearn-default band 0.623) — AUC bands pinned in MimicTrainSpec
    "mimic_rf_bench" -> ((s, d) => {
      val (train, test) = graft.pipeline.MimicPipeline.trainTest(s)
      val under = graft.ml.Resamplers.randomUndersample(train, "label", 42L)
      graft.ml.TrainHarness.rfSweep(under, test, "features", "label", Seq(100, 300))
    }),

    // The reference's CULMINATING table (cells 64-69 / py:796-861;
    // rows-only — MLlib LR + resampler RNG). r14 (verdict #6): the
    // per-round row runs ONE strategy — RUS, the published winner —
    // through the full 5-fold x 4-value CV grid + final fit + 8-metric
    // readout (the reference's whole pipeline shape, ~1/10 the 178.5 s
    // the 5-strategy table cost, which was 80% of the bench's comparable
    // wall). ZERO claim loss: the full five-row table (published
    // ordering RUS 0.640 best .. base 0.501 worst, per-row bands) is
    // still fitted EVERY suite run by MimicTrainSpec's cell-66 test at
    // the committed C values, and the full 5x(CV+final) table re-runs
    // via `sbt "runMain graft.tools.ResamplerTable"` whenever
    // TrainHarness / MimicPipeline / Resamplers change (the RfSweep9
    // trigger contract — BENCH_NOTES r14). MimicTrainSpec also guards
    // THIS row: the RUS smoke must land best_c 0.01 / auc_roc in the
    // committed band, so a drifted smoke can't ship silently.
    "mimic_resampler_bench" -> ((s, d) => {
      val (train, test) = graft.pipeline.MimicPipeline.trainTest(s)
      val r = graft.ml.TrainHarness.resamplerBenchmark(
        train, test, "id", "features", "label", include = Seq("undersample"))
      r.select(col("strategy"), col("n_train"), col("best_c"),
        round(col("cv_accuracy"), 3).as("cv_accuracy"),
        round(col("f1"), 3).as("f1"),
        round(col("precision_"), 3).as("precision_"),
        round(col("recall"), 3).as("recall"),
        round(col("accuracy"), 3).as("accuracy"),
        round(col("auc_roc"), 3).as("auc_roc"),
        round(col("auc_pr"), 3).as("auc_pr"),
        col("tn"), col("fp"), col("fn"), col("tp"))
    }),

    // The reference's most instructive NEGATIVE result (cell 56 /
    // py:683-737, rows-only — tree RNG): RF trained on the
    // RandomOverSampler-duplicated train (33,687 × 2). sklearn's
    // fully-grown exact-split trees memorize the duplicated minority, so
    // its test readout collapses to the majority — the published
    // acc 0.934 / recall 0.003 pathology next to a healthy-looking
    // probability AUC (0.701). A distributed histogram-binned RF
    // structurally SMOOTHS exact-split memorization, so the pathology's
    // DIRECTION reproduces (recall collapses toward 0 while accuracy
    // inflates toward prevalence — measured recall 0.16 / acc 0.87 at
    // maxDepth 26, monotone worsening with depth: 0.28@d15 → 0.23@d20 →
    // 0.16@d26) but not sklearn's full magnitude; bands pinned in
    // MimicTrainSpec alongside the 0.695-under and 0.623-default rows,
    // with the oversample row required to sit on the pathological side
    // of the undersample row on BOTH axes.
    "mimic_rf_oversample" -> ((s, d) => {
      val (train, test) = graft.pipeline.MimicPipeline.trainTest(s)
      val over = graft.ml.Resamplers.randomOversample(train, "label", 42L)
      val scored = graft.ml.TrainHarness.randomForestScores(
        over, test, "features", "label", numTrees = 50, seed = 42L,
        maxDepth = 26, maxBins = 16, maxMemoryMB = 2048)
      Materialize.scoped(scored) {
        val auc = graft.ml.Metrics.aucRoc(scored, "score", "label")
        val m = graft.ml.Metrics.thresholdMetrics(scored, "score", "label", 0.5).collect()(0)
        import s.implicits._
        Seq(("oversample_rf",
          math.round(auc * 1000) / 1000.0,
          math.round(m.getAs[Double]("accuracy") * 1000) / 1000.0,
          math.round(m.getAs[Double]("recall") * 1000) / 1000.0,
          m.getAs[Long]("tp"), m.getAs[Long]("fn")))
          .toDF("strategy", "auc_roc", "accuracy", "recall", "tp", "fn")
      }
    }),

    // M1/M2 at reference scale: the CountVectorizer max_features=3000
    // vocabulary over the cohort's discharge summaries (py:313-315) —
    // top-3000 terms by count, term-ascending tiebreak, out of a
    // 3,524-type candidate pool, so the cut is a real frequency cut.
    // The note TEXT is hash-generated identically on both engines, so
    // the vocabulary is exactly oracled end-to-end
    "mimic_notes_vocab" -> ((s, d) =>
      topWords(graft.sources.MimicSynth.noteTokens(s).join(diagnosedSurvivors(s), "HADM_ID"))),

    // the reference's bag-of-words matrix golden (BASELINE.md: 45,076 ×
    // 3,000): matrix rows = the cohort (missing-note rows are all-zero),
    // columns = the top-3000 vocabulary, plus the nonzero-cell and
    // total-token mass that pin the matrix CONTENT, not just its shape
    "mimic_bow_profile" -> ((s, d) => {
      val coh = diagnosedSurvivors(s)
      val toks = graft.sources.MimicSynth.noteTokens(s).join(coh, "HADM_ID")
      val vocab = topWords(toks).select("word")
      val inVocab = toks.join(vocab, "word")
      coh.agg(count(lit(1)).as("n_rows"))
        .crossJoin(inVocab.select("word").distinct()
          .agg(count(lit(1)).as("n_features")))
        .crossJoin(inVocab.select("HADM_ID", "word").distinct()
          .agg(count(lit(1)).as("nnz")))
        .crossJoin(inVocab.agg(count(lit(1)).as("total_tokens")))
    }),

    // M14's SELECTION half at MIMIC scale (py:633-638:
    // mutual_info_classif over the 36,047 × 3,019 train matrix, sorted
    // desc): plug-in MI of every matrix column vs the label, rank-listed
    // to the sweep's deepest cut (2,900) — the top-100/1,000/2,900 sets
    // the retrain sweep slices are all prefixes of this one exactly
    // DuckDB-oracled ranking (round-6 MI, name tiebreak)
    "mimic_feature_select" -> ((s, d) =>
      graft.pipeline.MimicPipeline.miRanking(s).filter(col("rank") <= 2900)),

    // M14's RETRAIN half at MIMIC scale (py:644-658: top-n MI columns →
    // RandomForest(200) refit on the FULL train → probability AUC on
    // test, n swept 100..2900; rows-only — tree RNG). The column sets are
    // the exactly-oracled mimic_feature_select prefixes mapped to matrix
    // slots, sliced with VectorSlicer so the fits read the same assembled
    // matrix every other mimic_* row uses. Shape note (MimicTrainSpec
    // pins it): the reference's plot rises then flattens because MIMIC's
    // signal is spread across >100 clinical words; the synthetic corpus
    // concentrates it in a smaller risk-word pool, so the curve here is
    // already SATURATED at n=100 (measured 0.705/0.689/0.695) — the spec
    // asserts the saturation plateau (all points within a band, all well
    // above chance), the part of the published curve the data supports.
    "mimic_feature_sweep" -> ((s, d) => {
      val (train, test) = graft.pipeline.MimicPipeline.trainTest(s)
      val vocab = graft.pipeline.MimicPipeline.vocabulary(s)
      val nv = vocab.length
      val cats = graft.pipeline.MimicPipeline.diagCats
      val slotOf: Map[String, Int] =
        vocab.zipWithIndex.map { case (w, i) => s"bow:$w" -> i }.toMap ++
          cats.zipWithIndex.map { case (c, i) => s"diag_$c" -> (nv + i) }.toMap ++
          Map("age" -> (nv + cats.length), "gender_m" -> (nv + cats.length + 1))
      val ranked = graft.pipeline.MimicPipeline.miRanking(s)
        .orderBy("rank").limit(2900).collect().map(_.getString(1))
      import s.implicits._
      // r14: the three slice-widths are independent seeded RF fits over
      // the same cached matrix — overlap them (TrainHarness.inParallel,
      // guide §2.6) so each fit's few-task tree-growth tail back-fills
      // the slots the others free. Same models, same AUCs.
      graft.ml.TrainHarness.inParallel(Seq(100, 1000, 2900)) { n =>
        val slots = ranked.take(n).map(slotOf).sorted
        val slicer = new org.apache.spark.ml.feature.VectorSlicer()
          .setInputCol("features").setOutputCol("fsel").setIndices(slots)
        val trainN = slicer.transform(train)
          .select(col("fsel").as("features"), col("label"))
        val testN = slicer.transform(test)
          .select(col("fsel").as("features"), col("label"))
        val scored = graft.ml.TrainHarness.randomForestScores(
          trainN, testN, "features", "label", numTrees = 200)
        (n.toLong,
          math.round(graft.ml.Metrics.aucRoc(scored, "score", "label") * 1000) / 1000.0)
      }.toDF("n_attrs", "auc")
    }),
      // slot layout mirrors the VectorAssembler order: BoW block first,
      // then diag cats, age, gender — offsets DERIVED from vocab.length
      // (normally 3,000) so a smaller vocabulary cut can never silently
      // misalign the slices
      // bounded collect: the 2,900-name ranked prefix (the sweep's
      // declared depth), not data

    // the composed §3 pipeline at reference scale: cohort labeling +
    // filters + per-admission diagnosis-category matrix (inner) +
    // patients/age (inner) + age filter — the reference's modeling table
    // (cells 7-20), read out per label with membership-pinning sums
    "mimic_pipeline_relational" -> ((s, d) => {
      val coh = graft.sources.MimicSynth.cohort(s).filter(survivor)
      val cats = graft.sources.MimicSynth.diagnoses(s).withColumn("cat", icd9Category)
        .groupBy("HADM_ID")
        .agg(sum(when(col("cat") === "circulatory", 1L).otherwise(0L)).as("n_circ"),
          sum(when(col("cat") === "injury", 1L).otherwise(0L)).as("n_inj"))
      withAge(coh
        .join(cats, Seq("HADM_ID"))
        .join(firstAdmission(coh), Seq("SUBJECT_ID"))
        .join(graft.sources.MimicSynth.patients(s), Seq("SUBJECT_ID")))
        .filter(col("age") =!= 0)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("SUBJECT_ID")).as("n_subjects"),
          sum(col("age")).as("sum_age"),
          sum(col("n_circ")).as("sum_circ"),
          sum(col("n_inj")).as("sum_inj"))
    }),

    // round-trips the CELL-8 cleaned cohort (df_adm_notes after the
    // death/newborn filters + labeling, with the last discharge-summary
    // TEXT left-joined; the synth asserts ≤1 summary per admission,
    // mirroring the reference's own duplicate assert at py:249). Note:
    // the reference's persisted artifact at py:265 is the LATER frame —
    // post-diagnoses-inner-join, patients-merged, age≠0-filtered, with
    // ICD category dummies (~45k rows after the 245-row drop); that
    // frame's content is covered by the green mimic_pipeline_relational /
    // mimic_age_hist / mimic_diag_categories rows. This row's job is the
    // SINK: prove S6 CSV round-trips a 45,321-row mixed
    // string/timestamp/null table at MIMIC scale — write via Sinks.csv
    // (distributed, one file per partition), re-read with the declared
    // schema, and emit a per-label readout the oracle computes straight
    // from the generated tables — any sink/source corruption (quoting,
    // nulls, timestamp format) hash-mismatches.
    "mimic_csv_roundtrip" -> ((s, d) => {
      val cleaned = graft.sources.MimicSynth.cohort(s).filter(survivor)
        .join(graft.sources.MimicSynth.dischargeSummariesAt(s, 1L), Seq("HADM_ID"), "left")
        .select(col("SUBJECT_ID"), col("HADM_ID"), col("ADMITTIME"),
          col("ADMISSION_TYPE"), col("ETHNICITY"),
          col("label").cast("int").as("OUTPUT_LABEL"), col("TEXT"))
      val path = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft_mimic_cleaned_${s.sparkContext.applicationId}")
      try {
        graft.core.Sinks.csv(cleaned, path.toString)
        val back =
          s.read.option("header", "true").schema(cleaned.schema).csv(path.toString)
        val readout = back.groupBy(col("OUTPUT_LABEL").as("output_label"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("HADM_ID")).as("hadm_sum"),
            sum(when(col("TEXT").isNull, 1L).otherwise(0L)).as("n_missing_text"),
            sum(length(col("TEXT"))).as("text_chars"),
            min(col("ADMITTIME")).as("admit_min"))
        val rows = readout.collect().toSeq
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), readout.schema)
      } finally {
        import scala.jdk.CollectionConverters._
        if (java.nio.file.Files.exists(path)) {
          val walk = java.nio.file.Files.walk(path)
          try walk.iterator().asScala.toSeq
            .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
          finally walk.close()
        }
      }
    }),
      // the write lives INSIDE the try so a mid-write failure (task OOM,
      // disk full) still hits the finally-block deletion — a partially
      // written multi-MB scratch dir is exactly what the cleanup exists
      // to prevent
        // materialize the 2-row readout BEFORE deleting the CSV, then hand
        // back a local frame — callers get identical values and the multi-MB
        // scratch dir doesn't accumulate one copy per session in tmpdir

    // hybrid retrieval over the REALISTIC corpus (the round-8 verdict's
    // composition ask): reciprocal-rank fusion of a BM25 lexical leg and
    // a BoW-cosine dense leg, both over the cohort's discharge summaries
    // — what a retrieval user of this engine actually runs. The query
    // document is data-derived (the summary with the most tokens, lowest
    // HADM_ID tiebreak); the dense space is the pipeline's own top-3000
    // vocabulary, so the cosine is a sparse integer-count dot product —
    // exactly oracle-able end to end. BM25's alpha-run tokenization
    // collapses the synthetic `wNNNN` pool words to 'w' (every word here
    // is all-alpha or w+digits, so one alpha run per word and dl still
    // equals the word count); the query terms are core clinical words, so
    // the collapse is inert and mirrored verbatim in the oracle.
    // Scale shape: BM25 is one scan + |Q|-bounded tf frame; the dense leg
    // shuffles counts once on word with the ≤3,000-term query side
    // BROADCAST; both legs end in TakeOrdered(100) cuts and the fusion
    // works on ≤200 rows.
    "mimic_rrf_retrieval" -> ((s, d) => {
      val docs = Materialize.pin(graft.sources.MimicSynth.dischargeSummariesAt(s, 1L)
        .join(graft.sources.MimicSynth.admissions(s).filter(survivor)
          .select("HADM_ID"), Seq("HADM_ID"), "left_semi")
        .join(graft.sources.MimicSynth.diagnoses(s).select("HADM_ID"),
          Seq("HADM_ID"), "left_semi"))
      val lex = graft.text.Bm25.scores(docs, "HADM_ID", "TEXT",
          Seq("pneumonia", "chronic", "renal", "failure"))
        .orderBy(desc("score"), asc("HADM_ID")).limit(100)
        .withColumn("r", row_number().over(
          Window.orderBy(desc("score"), asc("HADM_ID"))))
        .select(col("HADM_ID").as("id"), col("r"))
      val toks = docs.select(col("HADM_ID"),
        explode(split(col("TEXT"), " ")).as("word"))
      val vocab = topWords(toks).select("word")
      // r14: materialized once — the dense leg reads this frame THREE
      // times (query counts, doc norms, the dot itself) and a plain plan
      // re-runs the explode + vocab join + 1.4M-group aggregation per
      // reference (profile: three 13.8 MB exchanges, ~12-16 s task-time
      // each, for one query's numbers). A pin, NOT localCheckpoint():
      // the CacheManager dedups the canonical plan across invocations so
      // the bench's 3 reps share ONE pin (PinHygieneSpec), where a
      // per-invocation checkpoint pins a fresh RDD every rep and only
      // the ContextCleaner's GC race releases them.
      val counts = Materialize.pin(toks.join(vocab, "word")
        .groupBy("HADM_ID", "word").agg(count(lit(1)).cast("double").as("c")))
      val qid = docs.select(col("HADM_ID"), size(split(col("TEXT"), " ")).as("n"))
        .orderBy(desc("n"), asc("HADM_ID")).limit(1)
        .select(col("HADM_ID").as("_qid"))
      val qcounts = counts.join(qid, col("HADM_ID") === col("_qid"))
        .select(col("word"), col("c").as("qc"))
      val qnorm = qcounts.agg(sum(col("qc") * col("qc")).as("q2"))
      val dnorm = counts.groupBy("HADM_ID").agg(sum(col("c") * col("c")).as("d2"))
      val sem = counts.join(broadcast(qcounts), "word")
        .groupBy("HADM_ID").agg(sum(col("c") * col("qc")).as("dot"))
        .join(dnorm, "HADM_ID")
        .crossJoin(broadcast(qnorm)).crossJoin(broadcast(qid))
        .filter(col("HADM_ID") =!= col("_qid"))
        .withColumn("cos", round(col("dot") / sqrt(col("d2") * col("q2")), 9))
        .orderBy(desc("cos"), asc("HADM_ID")).limit(100)
        .withColumn("r", row_number().over(
          Window.orderBy(desc("cos"), asc("HADM_ID"))))
        .select(col("HADM_ID").as("id"), col("r"))
      graft.sim.Similarity.rrfFuse(Seq(lex, sem), "id", "r", kConst = 60, topK = 20)
    }),
      // cached: the BM25 leg, the token stream, and the query pick would
      // each re-GENERATE the synthetic corpus (per-word md5 draws, the
      // dominant cost — 3 passes → 1). ~12 MB; CacheManager dedups the
      // canonical plan across invocations (PinHygieneSpec pins ≤1 entry)
      // integer-count dot products in double: exact on both engines

    // CUPED variance-reduced experiment readout: pre-period clicks as the
    // covariate, purchases as the metric, same hash arms as ab_ztest —
    // one per-user agg, one 1-row moments agg, scalar math after
    "ab_cuped" -> ((s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
        .select(
          when(permilleHash(col("user_id"), ":ab") < 500, "A").otherwise("B").as("arm"),
          col("x"), col("y"))
      graft.ops.ExperimentOps.cuped(perUser, "arm", "A", "B", "x", "y")
    }),

    // stratified IPW (Horvitz–Thompson) treatment-effect estimate:
    // stratum = order priority, "treatment" = hash-split, outcome = big
    // order — one S-row hash-agg, positivity-violating strata dropped
    "ab_ipw" -> ((s, d) =>
      graft.ops.ExperimentOps.ipwEstimate(
        t(s, d, "orders"), "o_orderpriority",
        treated = permilleHash(col("o_orderkey"), ":ipw") < 300,
        outcome = col("o_totalprice") > 300000)),

    // one-pass Poisson bootstrap CI for the big-order rate: B=32
    // hash-derived Poisson(1) weights per row, replicate estimates as
    // micro-ints — the "random" weights themselves are oracle-checked
    "ml_bootstrap_ci" -> ((s, d) =>
      graft.ops.Bootstrap.poissonMeanCi(
        t(s, d, "orders"), key = col("o_orderkey"),
        y = when(col("o_totalprice") > 300000, 1L).otherwise(0L), b = 32)),

    // Qini/uplift deciles for a (hash-split) treatment and a rule score:
    // GlobalRowNumber ranking, integer decile splits, cumulative Qini
    // over the 10-row bucket table
    "ml_qini" -> ((s, d) => {
      val scored = t(s, d, "orders").select(
        col("o_totalprice").as("score"), col("o_orderkey"),
        when(permilleHash(col("o_orderkey"), ":ipw") < 300, 1L).otherwise(0L).as("trt"),
        when(col("o_totalprice") > 300000, 1L).otherwise(0L).as("y"))
      graft.ml.Metrics.qiniTable(scored, "score", "o_orderkey", "trt", "y", 10)
    }),

    // exact Gini concentration of customer spend (integer cents), global
    // ascending rank via GlobalRowNumber — no SinglePartition window
    "a19_gini" -> ((s, d) => {
      val per = t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("cents"))
      graft.ops.StatsOps.gini(per, col("cents"), col("o_custkey"))
    }),

    // 3-step behavioral paths: both leads from ONE window pass, counts on
    // the |types|³-bounded path table
    "ev_path3" -> ((s, d) =>
      graft.ops.FunnelOps.pathTrigrams(
        Tables.events(s, d), "user_id", "event_type", "ts", "event_id")),

    // CDC with delete tombstones: updates at +30d, deletes at +60d; the
    // winning record decides, deletes erase the key (GDPR propagation) —
    // filter runs AFTER latest-wins so tombstones shadow older versions
    "merge_tombstones" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val base = orders.select(col("o_orderkey"), col("o_orderdate").as("ts"),
        col("o_orderstatus"), lit("U").as("op"))
      val upd = orders.filter(permilleHash(col("o_orderkey"), ":up43") < 100)
        .select(col("o_orderkey"),
          (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("ts"),
          lit("X").as("o_orderstatus"), lit("U").as("op"))
      val del = orders.filter(permilleHash(col("o_orderkey"), ":del43") < 80)
        .select(col("o_orderkey"),
          (col("o_orderdate") + expr("INTERVAL 60 DAYS")).as("ts"),
          col("o_orderstatus"), lit("D").as("op"))
      graft.ops.MergeOps.applyCdc(
          base.unionByName(upd).unionByName(del), "o_orderkey", "ts", "op", "op")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
    }),

    // declarative data-quality gate: range / accepted-values / not-null
    // rules in ONE scan, plus uniqueness and referential integrity
    "dq_expectations" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      graft.ops.Expectations.check(li, Seq(
          "quantity_range" -> !(col("l_quantity") >= 1 && col("l_quantity") <= 50),
          "discount_range" -> !(col("l_discount") >= 0 && col("l_discount") <= 0.1),
          "shipdate_not_null" -> col("l_shipdate").isNull,
          "flag_accepted" -> !col("l_returnflag").isin("A", "N", "R")))
        .unionByName(graft.ops.Expectations.checkUnique(
          li, Seq("l_orderkey", "l_linenumber"), "line_unique"))
        .unionByName(graft.ops.Expectations.checkFk(
          li, "l_orderkey", t(s, d, "orders"), "o_orderkey", "orderkey_fk"))
    }),

    // bounded-memory heavy hitters: MG sketch candidates + exact recount
    // — answer provably equals the oracle's plain HAVING cnt·k > n
    "hh_frequent" -> ((s, d) =>
      graft.ops.HeavyHitters.frequentItems(
        t(s, d, "lineitem"),
        item = when(col("l_quantity") <= 25,
          col("l_quantity").cast("int").cast("string")).otherwise(lit("BULK")),
        k = 16)),

    // weighted hash sampling: keep-probability ∝ a row attribute, decided
    // by the engine-portable permille hash — deterministic importance
    // sampling (price-weighted here), exactly replayable in the oracle
    "o11_weighted_hash" -> ((s, d) => {
      val w = least(col("o_totalprice") / 500000.0, lit(1.0))
      t(s, d, "orders")
        .filter(permilleHash1M(col("o_orderkey"), ":w42") < floor(lit(1000000.0) * w))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
    }),

    // snapshot diff: keyed added/removed/changed report between two table
    // versions — fingerprints computed scan-side, one full-outer join of
    // (key, digest) pairs
    "diff_snapshots" -> ((s, d) => {
      val h = permilleHash(col("o_orderkey"), ":df42")
      val orders = t(s, d, "orders")
      val before = orders.select(col("o_orderkey"), col("o_orderstatus"))
      val after = orders.filter(h >= 50) // keys with h<50 disappear
        .select(col("o_orderkey"),
          when(h < 150, lit("X")).otherwise(col("o_orderstatus")).as("o_orderstatus"))
        .unionByName(orders.filter(h < 50) // and a wave of brand-new keys
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            lit("N").as("o_orderstatus")))
      graft.ops.SnapshotDiff.diff(before, after, Seq("o_orderkey"))
        .select("o_orderkey", "change")
    }),

    // per-group feature scaling with exact decimal moments — the scaling
    // constants are bit-reproducible under any partitioning
    // z rounded to 9 at the GATE (the op itself returns raw doubles): the
    // scaling constants are exact-in, but (x−μ)/σ is three dependent
    // double ops and the last ulp can differ across engines for some data
    "fe_group_zscore" -> ((s, d) =>
      graft.ops.StatsOps.groupZScore(
          t(s, d, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"),
          group = Seq("l_returnflag"), value = "l_extendedprice")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("z"), 9).as("z"))),

    // feature-store composition: the SCD2 history (scd2_merge) consumed
    // through the as-of join = point-in-time-correct feature lookup
    // ("which version was valid at each order's +45d checkpoint")
    "pit_asof_features" -> ((s, d) => {
      val history = graft.ops.MergeOps.scd2(
          scd2Snapshots(s, d), "o_orderkey", "ts", tracked = Seq("o_orderstatus"))
        .select(col("o_orderkey").as("hist_key"), col("valid_from"),
          col("o_orderstatus").as("status_asof"))
      val checkpoints = t(s, d, "orders").select(
        col("o_orderkey"),
        (col("o_orderdate") + expr("INTERVAL 45 DAYS")).as("checkpoint"))
      graft.ops.AsOfJoin.backward(
        checkpoints, "o_orderkey", "checkpoint",
        history, "hist_key", "valid_from", payload = Seq("status_asof"))
    }),
  )

  val oracles: Seq[(String, String)] = Seq(
    "ab_ipw" -> graft.ops.ExperimentOps.ipwOracleSql(
      s"""SELECT o_orderpriority AS s,
         |       CASE WHEN (${permilleHashSql("o_orderkey", ":ipw", 1000)}) < 300
         |            THEN 1 ELSE 0 END AS is_t,
         |       CASE WHEN o_totalprice > 300000 THEN 1 ELSE 0 END AS y
         |FROM orders""".stripMargin),

    "ml_qini" -> graft.ml.Metrics.qiniOracleSql(
      s"""  SELECT o_totalprice AS s, o_orderkey AS id,
         |         CASE WHEN (${permilleHashSql("o_orderkey", ":ipw", 1000)}) < 300
         |              THEN 1 ELSE 0 END AS t,
         |         CASE WHEN o_totalprice > 300000 THEN 1 ELSE 0 END AS y
         |  FROM orders""".stripMargin, k = 10),

    "ml_bootstrap_ci" -> graft.ops.Bootstrap.poissonMeanCiOracleSql(
      s"""  SELECT CAST(o_orderkey AS VARCHAR) AS k,
         |         CASE WHEN o_totalprice > 300000 THEN 1 ELSE 0 END AS y
         |  FROM orders""".stripMargin, b = 32),

    // ==== MIMIC-scale rows: DuckDB re-derives the same tables from the
    // same md5 arithmetic (no source files at all) and replays the
    // reference pipeline — generation AND query cross-engine-checked ====
    "mimic_cohort_counts" ->
      s"""WITH ${graft.sources.MimicSynth.cohortCtes},
         |${graft.sources.MimicSynth.diagnosesCtes}
         |SELECT label, CAST(count(*) AS BIGINT) AS n,
         |       CAST(SUM(hadm_id) AS BIGINT) AS hadm_sum
         |FROM mcohort c
         |WHERE deathtime IS NULL AND admission_type <> 'NEWBORN'
         |  AND EXISTS (SELECT 1 FROM diagnoses_icd d
         |              WHERE d.hadm_id = c.hadm_id)
         |GROUP BY 1""".stripMargin,

    "mimic_adm_profile" ->
      s"""WITH ${graft.sources.MimicSynth.admissionsCtes}
         |SELECT admission_type, CAST(count(*) AS BIGINT) AS n_adm,
         |       CAST(SUM(CASE WHEN deathtime IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_death
         |FROM admissions GROUP BY 1""".stripMargin,

    "mimic_ethnicity_top5" ->
      s"""WITH ${graft.sources.MimicSynth.admissionsCtes}, recoded AS (
         |  SELECT CASE
         |    WHEN regexp_matches(ethnicity, '^ASIAN') THEN 'ASIAN'
         |    WHEN regexp_matches(ethnicity, '^WHITE') THEN 'WHITE'
         |    WHEN regexp_matches(ethnicity, '^HISPANIC') THEN 'HISPANIC/LATINO'
         |    WHEN regexp_matches(ethnicity, '^BLACK') THEN 'BLACK/AFRICAN AMERICAN'
         |    WHEN ethnicity IN ('UNABLE TO OBTAIN', 'OTHER',
         |      'PATIENT DECLINED TO ANSWER', 'UNKNOWN/NOT SPECIFIED')
         |      THEN 'OTHER/UNKNOWN'
         |    ELSE ethnicity END AS eth
         |  FROM admissions
         |  WHERE deathtime IS NULL AND admission_type <> 'NEWBORN'
         |), top AS (
         |  SELECT eth FROM (
         |    SELECT eth, row_number() OVER (ORDER BY count(*) DESC, eth ASC) AS rn
         |    FROM recoded GROUP BY eth
         |  ) WHERE rn <= 5
         |)
         |SELECT CASE WHEN r.eth IN (SELECT eth FROM top) THEN r.eth
         |            ELSE 'OTHER/UNKNOWN' END AS ethnicity,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM recoded r GROUP BY 1""".stripMargin,

    "mimic_diag_categories" ->
      s"""WITH ${graft.sources.MimicSynth.diagnosesCtes}, coded AS (
         |  SELECT hadm_id, ${icd9CategorySql(mimicCode3Sql)} AS cat
         |  FROM diagnoses_icd
         |)
         |SELECT cat, CAST(count(*) AS BIGINT) AS n_codes,
         |       CAST(count(DISTINCT hadm_id) AS BIGINT) AS n_adm
         |FROM coded GROUP BY 1""".stripMargin,

    "mimic_age_hist" ->
      s"""WITH ${graft.sources.MimicSynth.admissionsCtes},
         |${graft.sources.MimicSynth.patientsCtes},
         |coh AS (
         |  SELECT * FROM admissions
         |  WHERE deathtime IS NULL AND admission_type <> 'NEWBORN'
         |), am AS (
         |  SELECT subject_id, min(admittime) AS admit_min FROM coh GROUP BY 1
         |), aged AS (
         |  SELECT floor((epoch(admit_min) - epoch(dob)) / 86400.0 / 365.0) AS age_raw
         |  FROM am JOIN patients USING (subject_id)
         |)
         |SELECT CAST(age AS BIGINT) AS age, CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT CASE WHEN age_raw > 89 OR age_raw < 0 THEN 90 ELSE age_raw END AS age
         |  FROM aged
         |) WHERE age <> 0 GROUP BY 1""".stripMargin,

    "mimic_days_hist" ->
      s"""WITH ${graft.sources.MimicSynth.cohortCtes}
         |SELECT CAST(LEAST(floor(days_next / 30.0), 11) * 30 AS BIGINT) AS bin_days,
         |       CAST(count(*) AS BIGINT) AS n
         |FROM mcohort
         |WHERE days_next IS NOT NULL AND days_next >= 0 AND days_next <= 360
         |GROUP BY 1""".stripMargin,

    "mimic_readmit_counts" ->
      s"""WITH ${graft.sources.MimicSynth.cohortCtes}
         |SELECT CAST(SUM(CASE WHEN days_next IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_readmit,
         |       CAST(count(*) AS BIGINT) AS n_total
         |FROM mcohort""".stripMargin,

    "mimic_split_counts" ->
      s"""WITH ${graft.sources.MimicSynth.modelingCtes}
         |SELECT split, CAST(count(*) AS BIGINT) AS n,
         |       CAST(SUM(CAST(label AS BIGINT)) AS BIGINT) AS n_pos,
         |       CAST(SUM(hadm_id) AS BIGINT) AS hadm_sum
         |FROM mmatrix GROUP BY 1""".stripMargin,

    "mimic_resample_counts" ->
      s"""WITH ${graft.sources.MimicSynth.modelingCtes},
         |t AS (
         |  SELECT CAST(SUM(CAST(label AS BIGINT)) AS BIGINT) AS tp,
         |         CAST(SUM(1 - CAST(label AS BIGINT)) AS BIGINT) AS tn
         |  FROM mmatrix WHERE split = 'train'
         |)
         |SELECT 'base' AS strategy, tp + tn AS n_train, tp AS n_pos, tn AS n_neg FROM t
         |UNION ALL SELECT 'undersample', tp * 2, tp, tp FROM t
         |UNION ALL SELECT 'oversample', tn * 2, tn, tn FROM t""".stripMargin,

    "mimic_notes_vocab" ->
      s"""WITH ${graft.sources.MimicSynth.admissionsCtes},
         |${graft.sources.MimicSynth.noteTokensCtes},
         |${graft.sources.MimicSynth.diagnosesCtes},
         |coh AS (
         |  SELECT hadm_id FROM admissions a
         |  WHERE deathtime IS NULL AND admission_type <> 'NEWBORN'
         |    AND EXISTS (SELECT 1 FROM diagnoses_icd d
         |                WHERE d.hadm_id = a.hadm_id)
         |)
         |SELECT word, CAST(count(*) AS BIGINT) AS cnt
         |FROM note_tokens JOIN coh USING (hadm_id)
         |GROUP BY 1 ORDER BY cnt DESC, word ASC LIMIT 3000""".stripMargin,

    "mimic_bow_profile" ->
      s"""WITH ${graft.sources.MimicSynth.admissionsCtes},
         |${graft.sources.MimicSynth.noteTokensCtes},
         |${graft.sources.MimicSynth.diagnosesCtes},
         |coh AS (
         |  SELECT hadm_id FROM admissions a
         |  WHERE deathtime IS NULL AND admission_type <> 'NEWBORN'
         |    AND EXISTS (SELECT 1 FROM diagnoses_icd d
         |                WHERE d.hadm_id = a.hadm_id)
         |), vt AS (
         |  SELECT t.hadm_id, t.word FROM note_tokens t JOIN coh USING (hadm_id)
         |), vocab AS (
         |  SELECT word FROM vt GROUP BY 1
         |  ORDER BY count(*) DESC, word ASC LIMIT 3000
         |), iv AS (
         |  SELECT vt.hadm_id, vt.word FROM vt JOIN vocab USING (word)
         |)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM coh) AS n_rows,
         |  (SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT word FROM iv)) AS n_features,
         |  (SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT hadm_id, word FROM iv)) AS nnz,
         |  (SELECT CAST(count(*) AS BIGINT) FROM iv) AS total_tokens""".stripMargin,

    // the MI feature-selection ranking, replayed cell-for-cell: nonzero
    // joint counts from the token/diagnosis aggregations, zero-completion
    // over the DECLARED 3,017-feature sparse universe, dense age/gender
    // joints, plug-in MI, round-6 rank with name tiebreak
    "mimic_feature_select" ->
      s"""WITH ${graft.sources.MimicSynth.modelingCtes},
         |${graft.sources.MimicSynth.noteTokensCtes},
         |tr AS (
         |  SELECT hadm_id, subject_id, label AS y FROM mmatrix WHERE split = 'train'
         |), tot AS (
         |  SELECT y, CAST(count(*) AS BIGINT) AS ny FROM tr GROUP BY 1
         |), vt AS (
         |  SELECT t.hadm_id, t.word FROM note_tokens t JOIN mmatrix USING (hadm_id)
         |), vocab AS (
         |  SELECT word FROM vt GROUP BY 1 ORDER BY count(*) DESC, word ASC LIMIT 3000
         |), bow AS (
         |  SELECT 'bow:' || t.word AS feature, t.hadm_id, tr.y,
         |         CAST(count(*) AS BIGINT) AS v
         |  FROM note_tokens t JOIN vocab USING (word) JOIN tr USING (hadm_id)
         |  GROUP BY 1, 2, 3
         |), diag AS (
         |  SELECT 'diag_' || cat AS feature, d.hadm_id, tr.y,
         |         CAST(count(*) AS BIGINT) AS v
         |  FROM (SELECT hadm_id, ${icd9CategorySql(mimicCode3Sql)} AS cat
         |        FROM diagnoses_icd) d
         |  JOIN tr USING (hadm_id) GROUP BY 1, 2, 3
         |), sj AS (
         |  SELECT feature, v, y, CAST(count(*) AS BIGINT) AS nxy
         |  FROM (SELECT * FROM bow UNION ALL SELECT * FROM diag) GROUP BY 1, 2, 3
         |), declared AS (
         |  SELECT 'bow:' || word AS feature FROM vocab
         |  UNION ALL
         |  SELECT 'diag_' || cat FROM (VALUES ${graft.pipeline.MimicPipeline.diagCats
              .map(c => s"('$c')").mkString(", ")}) t(cat)
         |), zc AS (
         |  SELECT d.feature, CAST(0 AS BIGINT) AS v, t.y,
         |         t.ny - COALESCE(f.nfy, 0) AS nxy
         |  FROM declared d CROSS JOIN tot t
         |  LEFT JOIN (SELECT feature, y, SUM(nxy) AS nfy FROM sj GROUP BY 1, 2) f
         |    ON f.feature = d.feature AND f.y = t.y
         |), am AS (
         |  SELECT subject_id, min(admittime) AS admit_min FROM admissions GROUP BY 1
         |), dense0 AS (
         |  SELECT tr.y,
         |    CAST(CASE WHEN floor((epoch(am.admit_min) - epoch(p.dob)) / 86400.0 / 365.0) > 89
         |               OR floor((epoch(am.admit_min) - epoch(p.dob)) / 86400.0 / 365.0) < 0
         |         THEN 90
         |         ELSE floor((epoch(am.admit_min) - epoch(p.dob)) / 86400.0 / 365.0)
         |         END AS BIGINT) AS age,
         |    CAST(CASE WHEN p.gender = 'M' THEN 1 ELSE 0 END AS BIGINT) AS gender_m
         |  FROM tr
         |  JOIN am ON tr.subject_id = am.subject_id
         |  JOIN patients p ON tr.subject_id = p.subject_id
         |), dj AS (
         |  SELECT 'age' AS feature, age AS v, y, CAST(count(*) AS BIGINT) AS nxy
         |  FROM dense0 GROUP BY 2, 3
         |  UNION ALL
         |  SELECT 'gender_m', gender_m, y, CAST(count(*) AS BIGINT)
         |  FROM dense0 GROUP BY 2, 3
         |), cells AS (
         |  SELECT * FROM sj UNION ALL SELECT * FROM zc UNION ALL SELECT * FROM dj
         |), mi AS (
         |  SELECT feature,
         |    SUM((CAST(nxy AS DOUBLE) / n) *
         |        ln(CAST(nxy AS DOUBLE) * n / (CAST(nx AS DOUBLE) * ny))) AS mutual_info
         |  FROM (SELECT feature, nxy,
         |          SUM(nxy) OVER (PARTITION BY feature) AS n,
         |          SUM(nxy) OVER (PARTITION BY feature, v) AS nx,
         |          SUM(nxy) OVER (PARTITION BY feature, y) AS ny
         |        FROM cells WHERE nxy > 0)
         |  GROUP BY 1
         |)
         |SELECT rank, feature, mi FROM (
         |  SELECT feature, round(mutual_info, 6) AS mi,
         |    CAST(row_number() OVER (ORDER BY round(mutual_info, 6) DESC, feature ASC)
         |         AS BIGINT) AS rank
         |  FROM mi)
         |WHERE rank <= 2900""".stripMargin,

    "mimic_pipeline_relational" ->
      s"""WITH ${graft.sources.MimicSynth.cohortCtes},
         |${graft.sources.MimicSynth.diagnosesCtes},
         |${graft.sources.MimicSynth.patientsCtes},
         |filtered AS (
         |  SELECT * FROM mcohort
         |  WHERE deathtime IS NULL AND admission_type <> 'NEWBORN'
         |), cats AS (
         |  SELECT hadm_id,
         |    CAST(SUM(CASE WHEN cat = 'circulatory' THEN 1 ELSE 0 END) AS BIGINT) AS n_circ,
         |    CAST(SUM(CASE WHEN cat = 'injury' THEN 1 ELSE 0 END) AS BIGINT) AS n_inj
         |  FROM (SELECT hadm_id, ${icd9CategorySql(mimicCode3Sql)} AS cat FROM diagnoses_icd)
         |  GROUP BY 1
         |), am AS (
         |  SELECT subject_id, min(admittime) AS admit_min FROM filtered GROUP BY 1
         |), joined AS (
         |  SELECT f.label, f.subject_id, c.n_circ, c.n_inj,
         |    floor((epoch(am.admit_min) - epoch(p.dob)) / 86400.0 / 365.0) AS age_raw
         |  FROM filtered f
         |  JOIN cats c ON f.hadm_id = c.hadm_id
         |  JOIN am ON f.subject_id = am.subject_id
         |  JOIN patients p ON f.subject_id = p.subject_id
         |), aged AS (
         |  SELECT label, subject_id, n_circ, n_inj,
         |    CASE WHEN age_raw > 89 OR age_raw < 0 THEN 90 ELSE age_raw END AS age
         |  FROM joined
         |)
         |SELECT label, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT subject_id) AS BIGINT) AS n_subjects,
         |  CAST(SUM(age) AS BIGINT) AS sum_age,
         |  CAST(SUM(n_circ) AS BIGINT) AS sum_circ,
         |  CAST(SUM(n_inj) AS BIGINT) AS sum_inj
         |FROM aged WHERE age <> 0 GROUP BY 1""".stripMargin,

    // the CSV round-trip readout equals what DuckDB computes straight
    // from the generated tables — the sink/source path must be lossless
    "mimic_csv_roundtrip" ->
      s"""WITH ${graft.sources.MimicSynth.cohortCtes},
         |${graft.sources.MimicSynth.noteTokensCtes},
         |nl AS (
         |  SELECT hadm_id,
         |         CAST(SUM(length(word)) + COUNT(*) - 1 AS BIGINT) AS text_len
         |  FROM note_tokens GROUP BY 1
         |)
         |SELECT CAST(label AS INTEGER) AS output_label,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(SUM(c.hadm_id) AS BIGINT) AS hadm_sum,
         |       CAST(SUM(CASE WHEN nl.hadm_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_text,
         |       CAST(SUM(text_len) AS BIGINT) AS text_chars,
         |       MIN(admittime) AS admit_min
         |FROM mcohort c LEFT JOIN nl ON c.hadm_id = nl.hadm_id
         |WHERE deathtime IS NULL AND admission_type <> 'NEWBORN'
         |GROUP BY 1""".stripMargin,

    // hybrid retrieval over cohort summaries: BM25 from the token stream
    // (each generated word is one alpha run, so the term of a word is
    // regexp_replace(word, '[^a-z]', '') and dl = word count — identical
    // to TextOps.tokens over the joined text), dense = vocab-restricted
    // integer-count cosine, fused with the same exact-decimal RRF as
    // sim_rrf_fusion
    "mimic_rrf_retrieval" ->
      s"""WITH ${graft.sources.MimicSynth.admissionsCtes},
         |${graft.sources.MimicSynth.noteTokensCtes},
         |${graft.sources.MimicSynth.diagnosesCtes},
         |coh AS (
         |  SELECT hadm_id FROM admissions a
         |  WHERE deathtime IS NULL AND admission_type <> 'NEWBORN'
         |    AND EXISTS (SELECT 1 FROM diagnoses_icd d
         |                WHERE d.hadm_id = a.hadm_id)
         |), vt AS (
         |  SELECT t.hadm_id, t.word FROM note_tokens t JOIN coh USING (hadm_id)
         |), lens AS (
         |  SELECT hadm_id, CAST(count(*) AS DOUBLE) AS dl FROM vt GROUP BY 1
         |), btf AS (
         |  SELECT hadm_id, term, CAST(count(*) AS DOUBLE) AS tf FROM (
         |    SELECT hadm_id, regexp_replace(word, '[^a-z]', '', 'g') AS term FROM vt
         |  ) WHERE term IN ('pneumonia', 'chronic', 'renal', 'failure')
         |  GROUP BY 1, 2
         |), stats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM lens
         |), dfreq AS (
         |  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM btf GROUP BY 1
         |), bm25 AS (
         |  SELECT btf.hadm_id,
         |         round(CAST(SUM(CAST(round(
         |           ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) *
         |           (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
         |         , 9) AS DECIMAL(18,9))) AS DOUBLE), 6) AS score
         |  FROM btf JOIN dfreq USING (term) JOIN lens USING (hadm_id), stats
         |  GROUP BY 1
         |), lexr AS (
         |  SELECT id, r FROM (
         |    SELECT hadm_id AS id,
         |           row_number() OVER (ORDER BY score DESC, hadm_id) AS r
         |    FROM bm25
         |  ) WHERE r <= 100
         |), vocab AS (
         |  SELECT word FROM vt GROUP BY 1
         |  ORDER BY count(*) DESC, word ASC LIMIT 3000
         |), counts AS (
         |  SELECT hadm_id, word, CAST(count(*) AS DOUBLE) AS c
         |  FROM vt JOIN vocab USING (word) GROUP BY 1, 2
         |), qid AS (
         |  SELECT hadm_id AS q FROM vt GROUP BY 1
         |  ORDER BY count(*) DESC, hadm_id ASC LIMIT 1
         |), qc AS (
         |  SELECT word, c AS qcnt FROM counts, qid WHERE counts.hadm_id = qid.q
         |), q2 AS (SELECT SUM(qcnt * qcnt) AS q2 FROM qc),
         |d2 AS (SELECT hadm_id, SUM(c * c) AS d2 FROM counts GROUP BY 1),
         |dots AS (
         |  SELECT c.hadm_id, SUM(c.c * qc.qcnt) AS dot
         |  FROM counts c JOIN qc USING (word) GROUP BY 1
         |), semr AS (
         |  SELECT id, r FROM (
         |    SELECT d.hadm_id AS id, row_number() OVER (ORDER BY
         |      round(dot / sqrt(d2.d2 * q2.q2), 9) DESC, d.hadm_id) AS r
         |    FROM dots d JOIN d2 USING (hadm_id), q2, qid
         |    WHERE d.hadm_id <> qid.q
         |  ) WHERE r <= 100
         |), fused AS (
         |  SELECT id,
         |    round(CAST(SUM(CAST(round(1.0 / (60 + CAST(r AS DOUBLE)), 9)
         |      AS DECIMAL(18,9))) AS DOUBLE), 6) AS rrf,
         |    CAST(count(*) AS BIGINT) AS n_lists
         |  FROM (SELECT id, r FROM lexr UNION ALL SELECT id, r FROM semr)
         |  GROUP BY 1
         |)
         |SELECT id, rrf, n_lists FROM (
         |  SELECT *, row_number() OVER (ORDER BY rrf DESC, id) AS rn FROM fused
         |) WHERE rn <= 20""".stripMargin,

    "ab_cuped" -> graft.ops.ExperimentOps.cupedOracleSql(
      s"""  SELECT CASE WHEN ${permilleHashSql("user_id", ":ab", 1000L)} < 500
         |              THEN 'A' ELSE 'B' END AS arm, x, y
         |  FROM (SELECT user_id,
         |               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
         |               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
         |        FROM events GROUP BY 1)""".stripMargin,
      treatArm = "A", controlArm = "B"),

    "a19_gini" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS v
        |  FROM orders GROUP BY 1
        |), r AS (
        |  SELECT v,
        |         row_number() OVER (ORDER BY v, o_custkey) AS rn,
        |         count(*) OVER () AS n
        |  FROM per
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_units,
        |       CAST(SUM(CAST(v AS HUGEINT)) AS DOUBLE) AS total,
        |       CASE WHEN SUM(CAST(v AS HUGEINT)) = 0 THEN 0.0
        |            ELSE round(CAST(SUM(CAST(2 * rn - n - 1 AS HUGEINT) * v) AS DOUBLE)
        |                       / (CAST(MAX(n) AS DOUBLE) *
        |                          CAST(SUM(CAST(v AS HUGEINT)) AS DOUBLE)), 6)
        |       END AS gini
        |FROM r""".stripMargin,

    "ev_path3" -> graft.ops.FunnelOps.pathTrigramsOracleSql(
      "events", "user_id", "event_type", "ts", "event_id"),

    "merge_tombstones" ->
      s"""WITH recs AS (
         |  SELECT o_orderkey, o_orderdate AS ts, o_orderstatus, 'U' AS op FROM orders
         |  UNION ALL
         |  SELECT o_orderkey, o_orderdate + INTERVAL 30 DAY, 'X', 'U' FROM orders
         |  WHERE (${permilleHashSql("o_orderkey", ":up43", 1000)}) < 100
         |  UNION ALL
         |  SELECT o_orderkey, o_orderdate + INTERVAL 60 DAY, o_orderstatus, 'D' FROM orders
         |  WHERE (${permilleHashSql("o_orderkey", ":del43", 1000)}) < 80
         |), r AS (
         |  SELECT o_orderstatus, op,
         |         row_number() OVER (PARTITION BY o_orderkey
         |                            ORDER BY ts DESC, op DESC) AS rn
         |  FROM recs
         |)
         |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM r WHERE rn = 1 AND op <> 'D' GROUP BY 1""".stripMargin,

    // NULL predicate results fall to ELSE on both engines (a null row is
    // not a violation of a range rule — the not-null rule catches it)
    "dq_expectations" ->
      """SELECT 'quantity_range' AS rule,
        |       CAST(SUM(CASE WHEN NOT (l_quantity >= 1 AND l_quantity <= 50) THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        |       CAST(COUNT(*) AS BIGINT) AS n_checked FROM lineitem
        |UNION ALL
        |SELECT 'discount_range',
        |       CAST(SUM(CASE WHEN NOT (l_discount >= 0 AND l_discount <= 0.1) THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(COUNT(*) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'shipdate_not_null',
        |       CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(COUNT(*) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'flag_accepted',
        |       CAST(SUM(CASE WHEN NOT (l_returnflag IN ('A', 'N', 'R')) THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(COUNT(*) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'line_unique',
        |       CAST(COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
        |       CAST(COUNT(*) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'orderkey_fk',
        |       CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(COUNT(*) AS BIGINT)
        |FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |  ON l.l_orderkey = o.o_orderkey""".stripMargin,

    // the MG sketch only shrinks the candidate set; the exact recount +
    // threshold make the output equal this plain aggregation
    "hh_frequent" ->
      """WITH it AS (
        |  SELECT CASE WHEN l_quantity <= 25 THEN CAST(CAST(l_quantity AS INTEGER) AS VARCHAR)
        |              ELSE 'BULK' END AS item
        |  FROM lineitem
        |), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM it WHERE item IS NOT NULL)
        |SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM it, tot
        |WHERE item IS NOT NULL
        |GROUP BY item, n
        |HAVING COUNT(*) * 16 > n""".stripMargin,

    "o11_weighted_hash" ->
      s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS cnt,
         |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM orders
         |WHERE (${permilleHashSql("o_orderkey", ":w42", 1000000L)})
         |      < CAST(floor(1000000.0 * least(o_totalprice / 500000.0, 1.0)) AS BIGINT)
         |GROUP BY 1""".stripMargin,

    // the oracle classifies changes by VALUE set logic — fingerprint
    // equality on the Spark side must coincide exactly
    "diff_snapshots" ->
      s"""WITH b AS (
         |  SELECT o_orderkey AS k, o_orderstatus AS st FROM orders
         |), a AS (
         |  SELECT o_orderkey AS k,
         |         CASE WHEN (${permilleHashSql("o_orderkey", ":df42", 1000)}) < 150
         |              THEN 'X' ELSE o_orderstatus END AS st
         |  FROM orders WHERE (${permilleHashSql("o_orderkey", ":df42", 1000)}) >= 50
         |  UNION ALL
         |  SELECT o_orderkey + 10000000 AS k, 'N' AS st
         |  FROM orders WHERE (${permilleHashSql("o_orderkey", ":df42", 1000)}) < 50
         |)
         |SELECT k AS o_orderkey, 'removed' AS change FROM b
         |WHERE k NOT IN (SELECT k FROM a)
         |UNION ALL
         |SELECT k, 'added' FROM a WHERE k NOT IN (SELECT k FROM b)
         |UNION ALL
         |SELECT b.k, 'changed' FROM b JOIN a ON b.k = a.k
         |WHERE b.st IS DISTINCT FROM a.st""".stripMargin,

    // group moments are exact decimals cast to double; mean/std/z are
    // identical rational+sqrt expression shapes on both engines
    "fe_group_zscore" ->
      """WITH g AS (
        |  SELECT l_returnflag AS grp, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s,
        |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS ss
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT l_orderkey, l_linenumber, l_returnflag,
        |       round((CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) - s / n)
        |         / sqrt((n * ss - s * s) / (n * (n - 1.0))), 9) AS z
        |FROM lineitem JOIN g ON l_returnflag = g.grp""".stripMargin,

    // DuckDB's native ASOF JOIN against the same collapsed SCD2 history
    "pit_asof_features" ->
      s"""WITH snaps AS (
         |  SELECT o_orderkey, o_orderdate AS ts, o_orderstatus FROM orders
         |  UNION ALL
         |  SELECT o_orderkey, o_orderdate + INTERVAL 30 DAY, 'X' FROM orders
         |  WHERE (${permilleHashSql("o_orderkey", ":up42", 1000)}) < 100
         |  UNION ALL
         |  SELECT o_orderkey, o_orderdate + INTERVAL 60 DAY, o_orderstatus FROM orders
         |  WHERE (${permilleHashSql("o_orderkey", ":up42", 1000)}) >= 100
         |    AND (${permilleHashSql("o_orderkey", ":up42", 1000)}) < 200
         |), flagged AS (
         |  SELECT o_orderkey, ts, o_orderstatus,
         |         lag(ts) OVER w IS NULL AS first_row,
         |         o_orderstatus IS DISTINCT FROM lag(o_orderstatus) OVER w AS chg
         |  FROM snaps WINDOW w AS (PARTITION BY o_orderkey ORDER BY ts)
         |), kept AS (
         |  SELECT o_orderkey, ts, o_orderstatus FROM flagged WHERE first_row OR chg
         |), chk AS (
         |  SELECT o_orderkey, o_orderdate + INTERVAL 45 DAY AS checkpoint FROM orders
         |)
         |SELECT chk.o_orderkey, chk.checkpoint, k.o_orderstatus AS status_asof
         |FROM chk ASOF LEFT JOIN kept k
         |  ON chk.o_orderkey = k.o_orderkey AND k.ts <= chk.checkpoint""".stripMargin,
  )
}
