package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Pins the MIMIC-scale synthetic dataset to the reference's PUBLISHED
  * golden cardinalities (BASELINE.md "Cardinalities"; reference
  * Hap880_Final_Project.py:77, :116, :267-269) — the generator constants
  * were tuned until the reference pipeline lands on these EXACTLY, so
  * any drift in the generator or the cohort operators shows here.
  */
class MimicSynthSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val adm = MimicSynth.admissions(spark).cache()

  test("golden: 58,976 admissions; 7,863 newborns; 5,792 in-hospital deaths") {
    assert(adm.count() == 58976L)
    assert(adm.filter(col("ADMISSION_TYPE") === "NEWBORN").count() == 7863L)
    // 58,976 − 7,863 newborns − 5,792 deaths = the 45,321 filtered rows
    // the reference's ethnicity table (cell 8) sums to
    assert(adm.filter(col("DEATHTIME").isNotNull).count() == 5792L)
    // deaths only on final admissions of non-newborn subjects: a death
    // row's subject never has a LATER admission
    val afterDeath = adm.as("a")
      .join(adm.as("b"), col("a.SUBJECT_ID") === col("b.SUBJECT_ID") &&
        col("a.DEATHTIME").isNotNull && col("b.ADMITTIME") > col("a.ADMITTIME"))
    assert(afterDeath.count() == 0L)
  }

  test("golden: modeling cohort is EXACTLY the reference's 45,076 = 2,958 pos + 42,118 neg") {
    val labeled = graft.ops.CohortOps.labelNextEvent(
      adm, entityCol = "SUBJECT_ID", timeCol = "ADMITTIME",
      typeCol = "ADMISSION_TYPE", tieCol = "HADM_ID",
      excludedType = "ELECTIVE", horizonDays = 30.0, anchorCol = "DISCHTIME")
      .filter(col("DEATHTIME").isNull && col("ADMISSION_TYPE") =!= "NEWBORN")
    // pre-join (the reference's cell-8 frame): 45,321 rows, same positives
    val preJoin = labeled.groupBy("label").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(preJoin == Map("1" -> 2958L, "0" -> 42363L), preJoin)
    // the DIAGNOSES_ICD inner join (cell 22) drops the 245 no-diagnosis
    // admissions — all negatives — landing the published cohort exactly
    val byLabel = labeled
      .join(MimicSynth.diagnoses(spark).select("HADM_ID"), Seq("HADM_ID"), "left_semi")
      .groupBy("label").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel == Map("1" -> 2958L, "0" -> 42118L))
  }

  test("golden: EXACTLY 6,985 distinct ICD-9 codes (reference nunique, py:116)") {
    val dg = MimicSynth.diagnoses(spark)
    assert(dg.agg(countDistinct("ICD9_CODE")).as[Long].head() == 6985L)
    // V- and E-code shapes present (they exercise the alpha→999 recode)
    assert(dg.filter(col("ICD9_CODE").startsWith("V")).count() > 0)
    assert(dg.filter(col("ICD9_CODE").startsWith("E")).count() > 0)
  }

  test("ICD-9 recode: 3-digit slice, FIRST inclusive range wins, letter " +
    "and null codes land in 'injury' through 999") {
    val cases = Seq[(String, String)](
      "0010" -> "infectious", "1400" -> "infectious", // 140 is in two ranges
      "2400" -> "neoplasms", "7800" -> "prenatal", "7990" -> "misc",
      "V1010" -> "injury", "E8000" -> "injury", (null: String) -> "injury")
    val got = cases.map(_._1).toDF("ICD9_CODE")
      .select(col("ICD9_CODE"), graft.pipeline.MimicPipeline.icd9Category)
      .collect().map(r => Option(r.getString(0)) -> r.getString(1)).toMap
    assert(got == cases.map { case (c, k) => Option(c) -> k }.toMap)
    assert(graft.pipeline.MimicPipeline.diagCats.size == 17)
  }

  test("golden: ethnicity recode lands the reference's top-5 counts EXACTLY (py:102-108)") {
    val filtered = adm
      .filter(col("DEATHTIME").isNull && col("ADMISSION_TYPE") =!= "NEWBORN")
      .withColumn("eth",
        when(col("ETHNICITY").rlike("^ASIAN"), "ASIAN")
          .when(col("ETHNICITY").rlike("^WHITE"), "WHITE")
          .when(col("ETHNICITY").rlike("^HISPANIC"), "HISPANIC/LATINO")
          .when(col("ETHNICITY").rlike("^BLACK"), "BLACK/AFRICAN AMERICAN")
          .when(col("ETHNICITY").isin("UNABLE TO OBTAIN", "OTHER",
            "PATIENT DECLINED TO ANSWER", "UNKNOWN/NOT SPECIFIED"), "OTHER/UNKNOWN")
          .otherwise(col("ETHNICITY")))
    val top = graft.ops.Recodes.topKOrElse(filtered, "eth", 5, "OTHER/UNKNOWN")
      .groupBy("eth").count().orderBy(desc("count")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    // the reference's table, value for value (BASELINE.md "ethnicity
    // top-5 after recode" — ipynb cell 8, over the 45,321 filtered rows)
    assert(top.toSeq == Seq(
      "WHITE" -> 32501L,
      "OTHER/UNKNOWN" -> 5640L,
      "BLACK/AFRICAN AMERICAN" -> 4471L,
      "HISPANIC/LATINO" -> 1625L,
      "ASIAN" -> 1084L), top.toSeq)
  }

  test("golden: modeling matrix 45,059 rows; train 36,047/2,360 pos; test 9,012/598") {
    val m = MimicSynth.modelingRows(spark).cache()
    assert(m.count() == 45059L) // reference: 45,076 − 17 dropna rows
    val by = m.groupBy("split")
      .agg(count(lit(1)).as("n"), sum(col("label").cast("long")).as("p"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(by("train") == ((36047L, 2360L)), by) // reference train size + 2×2,360 = 4,720 undersample
    assert(by("test") == ((9012L, 598L)), by)
    // the 17 dropna rows are all negatives: total positives stay 2,958
    assert(by("train")._2 + by("test")._2 == 2958L)
    // resampling-cardinality goldens derive: oversampled 33,687 + 33,687
    assert(by("train")._1 - by("train")._2 == 33687L)
    m.unpersist()
  }

  test("admissions are well-formed: positive stays, non-overlapping per subject") {
    // discharge strictly after admit
    assert(adm.filter(col("DISCHTIME") <= col("ADMITTIME")).count() == 0L)
    // next admission strictly after the previous discharge
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("SUBJECT_ID").orderBy("ADMITTIME", "HADM_ID")
    val overlaps = adm
      .withColumn("_prev_disch", lag(col("DISCHTIME"), 1).over(w))
      .filter(col("_prev_disch").isNotNull && col("ADMITTIME") <= col("_prev_disch"))
    assert(overlaps.count() == 0L)
  }

  test("patients: one row per subject; ages 16-89 plus shifted >89; newborns age 0") {
    val pat = MimicSynth.patients(spark)
    assert(pat.count() == MimicSynth.N_SUBJECTS)
    val aged = adm.groupBy("SUBJECT_ID").agg(min("ADMITTIME").as("admit_min"))
      .join(pat, Seq("SUBJECT_ID"))
      .withColumn("age_raw",
        floor(graft.ops.CohortOps.fractionalDays(col("admit_min"), col("DOB")) / 365.0))
      .withColumn("age",
        when(col("age_raw") > 89 || col("age_raw") < 0, 90L).otherwise(col("age_raw")))
    val newbornAges = aged.join(
      adm.filter(col("ADMISSION_TYPE") === "NEWBORN").select("SUBJECT_ID").distinct(),
      Seq("SUBJECT_ID"))
    assert(newbornAges.filter(col("age") =!= 0).count() == 0L)
    val others = aged.join(
      adm.filter(col("ADMISSION_TYPE") =!= "NEWBORN").select("SUBJECT_ID").distinct(),
      Seq("SUBJECT_ID"))
    assert(others.filter(col("age") < 16 || col("age") > 90).count() == 0L)
    assert(others.filter(col("age") === 90).count() > 0L) // shifted >89 tier exists
  }

  test("notes: ~94.2% discharge-summary coverage; nursing notes are filtered out") {
    val nt = MimicSynth.notes(spark)
    val summaries = nt.filter(col("CATEGORY") === "Discharge summary")
    val frac = summaries.count().toDouble / 58976.0
    assert(frac > 0.93 && frac < 0.95, s"summary fraction $frac")
    // at most one summary per admission (the reference asserts this)
    assert(summaries.groupBy("HADM_ID").count().filter(col("count") > 1).count() == 0L)
    assert(nt.filter(col("CATEGORY") === "Nursing").count() > 0L)
    // text is non-trivial for the featurizer
    assert(summaries.filter(length(col("TEXT")) < 20).count() == 0L)
  }

  test("miRanking's derived vocabulary is SET-equal to the matrix vocabulary " +
    "(the coupling the feature sweep's slot lookup rides on)") {
    // rankingVocabulary splits on ' ' over inner-joined notes; the matrix
    // build runs ml.Tokenizer over the left-joined fillna(' ') frame —
    // equivalent only while the generated text stays lowercase,
    // single-spaced, non-empty. A generator change that breaks the
    // equivalence must fail HERE, not as a NoSuchElementException inside
    // mimic_feature_sweep's name→slot map.
    val derived = graft.pipeline.MimicPipeline.rankingVocabulary(spark)
      .collect().map(_.getString(0)).toSet
    val matrix = graft.pipeline.MimicPipeline.vocabulary(spark).toSet
    assert(derived.size == 3000 && matrix.size == 3000)
    assert(derived == matrix,
      s"vocab divergence: ${(derived -- matrix).take(5)} vs ${(matrix -- derived).take(5)}")
  }

  test("miRanking (r14 single-materialization restructure) emits the full " +
    "declared universe: 3,019 dense-ranked features over the derived vocab") {
    // miRanking derives the vocabulary cut and the BoW joints from ONE
    // pinned token stream (Materialize.scoped) — this pins the
    // output shape the DuckDB oracle also checks, as fast suite signal:
    // every declared feature ranks exactly once (zero-completion kept
    // constant columns alive), ranks are dense 1..3019, and the bow:
    // features are exactly the derived vocabulary
    val mi = graft.pipeline.MimicPipeline.miRanking(spark).collect()
    assert(mi.length == 3019, s"expected 3019 ranked features, got ${mi.length}")
    assert(mi.map(_.getLong(0)).sorted.toSeq == (1L to 3019L),
      "ranks are not dense 1..3019")
    val feats = mi.map(_.getString(1)).toSet
    val vocab = graft.pipeline.MimicPipeline.rankingVocabulary(spark)
      .collect().map(r => "bow:" + r.getString(0)).toSet
    assert(feats.count(_.startsWith("bow:")) == 3000)
    assert(feats.filter(_.startsWith("bow:")) == vocab)
    assert(feats.count(_.startsWith("diag_")) == 17)
    assert(feats.contains("age") && feats.contains("gender_m"))
  }

  test("At(f) scaled generators preserve the structural proportions " +
    "(the Scale harness's apples-to-apples contract)") {
    val f = 2L
    val adm1 = MimicSynth.admissions(spark)
    val admF = MimicSynth.admissionsAt(spark, f)
    assert(admF.count() == f * MimicSynth.N_ADM)
    // newborn share identical (NEWBORN subjects scale with the block map)
    def share(df: org.apache.spark.sql.DataFrame): Double =
      df.filter(col("ADMISSION_TYPE") === "NEWBORN").count().toDouble / df.count()
    assert(math.abs(share(admF) - share(adm1)) < 1e-9,
      s"newborn share drifted: ${share(admF)} vs ${share(adm1)}")
    // per-subject partition bound holds at any f (the window-cost contract)
    val maxAdm = admF.groupBy("SUBJECT_ID").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxAdm <= 6L, s"subject with $maxAdm admissions at f=$f")
    // HADM_IDs stay unique across the scaled table
    assert(admF.select("HADM_ID").distinct().count() == f * MimicSynth.N_ADM)
    // the modeling-row chain keeps prevalence in the f=1 band (the label
    // mechanism is per-subject hash arithmetic — scale must not move it
    // more than sampling noise)
    def prevalence(fx: Long): Double = {
      val m = MimicSynth.modelingRowsAt(spark, fx)
        .agg(avg(col("label").cast("double"))).collect()(0).getDouble(0)
      m
    }
    val p1 = prevalence(1L); val pf = prevalence(f)
    assert(math.abs(pf - p1) < 0.01, s"prevalence drifted: $p1 -> $pf at f=$f")
  }
}
