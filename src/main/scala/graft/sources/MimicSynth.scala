package graft.sources

import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic MIMIC-shaped synthetic dataset at the reference's
  * PUBLISHED scale (Hap880_Final_Project.py:19-269; BASELINE.md
  * "Cardinalities"): ADMISSIONS / DIAGNOSES_ICD / PATIENTS / NOTEEVENTS
  * with the reference's own column names, generated from pure
  * `range → md5-hash` arithmetic — no RNG object, no files — so Spark
  * and DuckDB derive BIT-IDENTICAL tables and every pipeline readout
  * over them is exactly oracle-able.
  *
  * The generator constants are TUNED so the reference pipeline's golden
  * invariants land EXACTLY:
  *
  *   - ADMISSIONS rows         58,976   (= reference, py:77)
  *   - NEWBORN admissions       7,863   (= MIMIC-III)
  *   - death+newborn filter    45,321   (= reference ethnicity table sum,
  *                                        ipynb cell 8 — recode runs HERE)
  *   - ethnicity top-5         WHITE 32,501 / OTHER-UNKNOWN 5,640 /
  *                             BLACK 4,471 / HISPANIC 1,625 / ASIAN 1,084
  *                             (= reference, py:102-108) — EXACT
  *   - modeling cohort         45,076   (= reference, ipynb cell 22 —
  *                                        AFTER the diagnoses inner join:
  *                                        245 admissions carry no
  *                                        DIAGNOSES_ICD rows, see
  *                                        [[NODIAG_T]])
  *   - positive labels          2,958   (= reference, py:267-269)
  *   - in-hospital deaths       5,792   (58,976 − 7,863 − 45,321)
  *   - distinct ICD-9 codes     6,985   (= reference, py:116)
  *
  * Structure: 46,161 subjects — 37,998 with one admission (the first
  * 7,863 of them newborns), 5,500 with two, 2,000 with three, 663 with
  * six. Admission gaps (discharge → next admit, whole days) are
  * hash-uniform on [1, 111], so ~26% of readmissions fall under the
  * 30-day horizon; deaths strike only final admissions of non-newborn
  * subjects. Every draw is `md5(key ":salt") mod m` — the engine's
  * proven cross-engine hash (the permilleHash oracle family).
  *
  * Scale shape: generation is one `range(58,976)` scan + per-subject
  * windows over ≤6-row partitions; a 100 TB variant is the same plan
  * with a bigger range — embarrassingly parallel, zero shuffles beyond
  * the per-subject cumulative-gap window.
  */
object MimicSynth {

  // ---- tuned constants (see scaladoc; changing any re-lands the golden
  // invariants somewhere else — MimicSynthSpec pins them) ----
  val N_ADM        = 58976L
  val B1_END       = 37998L // one-admission block (subjects 0..37997)
  val B2_END       = 48998L // two-admission block (5,500 subjects × 2)
  val B3_END       = 54998L // three-admission block (2,000 × 3)
  val S2_0         = 37998L
  val S3_0         = 43498L
  val S6_0         = 45498L
  val N_SUBJECTS   = 46161L
  val NEWBORN_SUBJ = 7863L  // subjects 0..7862 are newborns
  val ELECTIVE_T   = 126L   // of 1000, salt t6
  val URGENT_T     = 152L   // elective + 26
  val LOS_MOD      = 11L    // los = 1 + draw % 11 days
  val GAP_OFF      = 1L
  val GAP_MOD      = 111L   // gap = 1 + draw % 111 days, salt gb
  val DEATH_T      = 15315L // of 100000, last non-newborn admissions
  val BASE_MOD     = 2920L  // subject base day over 8 years
  val EPOCH_DATE   = "2100-01-01"
  val N_ICD        = 6985L  // distinct ICD-9 pool == reference nunique
  val NDIAG_MOD    = 21L    // diagnoses per admission = 1 + draw % 21
  val NOTE_T       = 942L   // of 1000 admissions have a discharge summary

  /** Pre-recode ethnicity raw values with cumulative hash thresholds (of
    * 100,000): the raw strings exercise the reference's E5 regex recodes
    * (^WHITE\D* etc.), the E6 isin collapse, and the P13 top-5-else rule;
    * after recoding over the death+newborn-filtered 45,321 rows, the
    * top-5 table matches the reference's EXACTLY (BASELINE.md: WHITE
    * 32,501 / OTHER-UNKNOWN 5,640 / BLACK 4,471 / HISPANIC 1,625 / ASIAN
    * 1,084). The four recode-group boundaries (71,604 / 81,633 / 85,257 /
    * 87,594, salt et0) are exact-count solutions — the per-subject draw
    * staircase passes through each cumulative target (32,501 / 36,972 /
    * 38,597 / 39,681) — and the within-group sub-thresholds keep the
    * MIMIC-ish raw-value proportions. AMERICAN INDIAN (677) and MULTI
    * RACE (496) stay below ASIAN's 1,084 so the P13 top-5 set is the
    * published five.
    */
  val ETH_SALT = "et0"
  val ethnicityThresholds: Seq[(Long, String)] = Seq(
    64545L -> "WHITE",
    68074L -> "WHITE - RUSSIAN",
    71604L -> "WHITE - OTHER EUROPEAN",
    79586L -> "BLACK/AFRICAN AMERICAN",
    81633L -> "BLACK/CAPE VERDEAN",
    84150L -> "HISPANIC OR LATINO",
    85257L -> "HISPANIC/LATINO - PUERTO RICAN",
    86718L -> "ASIAN",
    87594L -> "ASIAN - CHINESE",
    92060L -> "UNKNOWN/NOT SPECIFIED",
    95037L -> "OTHER",
    96526L -> "UNABLE TO OBTAIN",
    97518L -> "PATIENT DECLINED TO ANSWER",
    98808L -> "AMERICAN INDIAN/ALASKA NATIVE",
    100000L -> "MULTI RACE ETHNICITY")

  /** The cross-engine draw: `md5(key ":salt") → first 60 bits → mod m`.
    * Identical to [[oracleDraw]]'s SQL rendering by construction.
    */
  private def draw(key: Column, salt: String, m: Long): Column =
    pmod(TextOps.md5Hash60(concat(key.cast("string"), lit(":" + salt))), lit(m))

  /** DuckDB rendering of [[draw]] — ONE definition pair, so the Scala
    * and SQL sides cannot silently diverge.
    */
  def oracleDraw(keySql: String, salt: String, m: Long): String =
    s"(CAST(concat('0x', substr(md5(concat(CAST($keySql AS VARCHAR), ':$salt')), 1, 15)) AS BIGINT) % $m)"

  private def floorDiv(c: Column, d: Long): Column =
    floor(c / d.toDouble).cast("long")

  /** The (i → subject, seq, n_admissions) block mapping shared by every
    * generated table. Every block constant is LINEAR in the table size
    * (S2_0 = B1_END, S3_0 = S2_0 + 5,500, …), so scaling them all by a
    * common factor `f` preserves every structural proportion — block
    * mix, newborn share, per-subject partition bound (≤6 rows) — which
    * is what makes the `At(f)` generators an apples-to-apples growth
    * corpus for the Scale harness. Golden invariants (the exact 45,321 /
    * 2,958 / 245 counts) are tuned — and spec-pinned — at f = 1 only.
    */
  private def blockCols(i: Column, f: Long = 1L): (Column, Column, Column) = {
    val (b1, b2, b3) = (B1_END * f, B2_END * f, B3_END * f)
    val s = when(i < b1, i)
      .when(i < b2, lit(S2_0 * f) + floorDiv(i - b1, 2))
      .when(i < b3, lit(S3_0 * f) + floorDiv(i - b2, 3))
      .otherwise(lit(S6_0 * f) + floorDiv(i - b3, 6))
    val q = when(i < b1, lit(0L))
      .when(i < b2, (i - b1) % 2)
      .when(i < b3, (i - b2) % 3)
      .otherwise((i - b3) % 6)
    val n = when(i < b1, lit(1L)).when(i < b2, lit(2L))
      .when(i < b3, lit(3L)).otherwise(lit(6L))
    (s, q, n)
  }

  private def dayToTs(days: Column): Column =
    date_add(lit(EPOCH_DATE).cast("date"), days.cast("int")).cast("timestamp")

  /** ADMISSIONS: SUBJECT_ID, HADM_ID, ADMITTIME, DISCHTIME, DEATHTIME,
    * ADMISSION_TYPE, ETHNICITY.
    */
  def admissions(spark: SparkSession): DataFrame = admissionsAt(spark, 1L)

  /** [[admissions]] at `f`× the published scale (see [[blockCols]] —
    * proportions preserved, golden counts pinned at f = 1 only). The
    * Scale harness's MIMIC corpus.
    */
  def admissionsAt(spark: SparkSession, f: Long): DataFrame = {
    val base = spark.range(N_ADM * f).select(col("id").as("i"))
    val (s, q, n) = blockCols(col("i"), f)
    val typed = base.select(
      col("i"), s.as("s"), q.as("q"), n.as("nadm"),
      when(s < NEWBORN_SUBJ * f, "NEWBORN")
        .when(draw(col("i"), "t6", 1000L) < ELECTIVE_T, "ELECTIVE")
        .when(draw(col("i"), "t6", 1000L) < URGENT_T, "URGENT")
        .otherwise("EMERGENCY").as("admission_type"),
      (lit(1L) + draw(col("i"), "lo", LOS_MOD)).as("los"),
      (lit(GAP_OFF) + draw(col("i"), "gb", GAP_MOD)).as("gap"),
      (q === n - 1 && s >= NEWBORN_SUBJ * f &&
        draw(col("i"), "de", 100000L) < DEATH_T).as("dies"),
      draw(s, "bd", BASE_MOD).as("base_day"))
    // per-subject cumulative (los + gap) prefix — partitions are ≤ 6 rows
    val wOff = Window.partitionBy("s").orderBy("q")
      .rowsBetween(Window.unboundedPreceding, -1)
    typed
      .withColumn("_off", coalesce(sum(col("los") + col("gap")).over(wOff), lit(0L)))
      .select(
        col("s").as("SUBJECT_ID"),
        (lit(100000L) + col("i")).as("HADM_ID"),
        dayToTs(col("base_day") + col("_off")).as("ADMITTIME"),
        dayToTs(col("base_day") + col("_off") + col("los")).as("DISCHTIME"),
        when(col("dies"), dayToTs(col("base_day") + col("_off") + col("los")))
          .otherwise(lit(null).cast("timestamp")).as("DEATHTIME"),
        col("admission_type").as("ADMISSION_TYPE"),
        ethnicityThresholds.foldRight(lit(null).cast("string")) {
          case ((t, v), acc) => when(draw(col("s"), ETH_SALT, 100000L) < t, v).otherwise(acc)
        }.as("ETHNICITY"))
  }

  /** DuckDB mirror of [[admissions]] as a CTE chain ending in a CTE named
    * `admissions` with the same columns (lower-cased — DuckDB folds
    * unquoted identifiers, and the oracle SQL references them unquoted).
    */
  def admissionsCtes: String = {
    val eth = ethnicityThresholds.map { case (t, v) =>
      s"WHEN ${oracleDraw("s", ETH_SALT, 100000L)} < $t THEN '${v.replace("'", "''")}'"
    }.mkString("\n           ")
    s"""madm0 AS (
       |  SELECT i,
       |    CASE WHEN i < $B1_END THEN i
       |         WHEN i < $B2_END THEN $S2_0 + (i - $B1_END) // 2
       |         WHEN i < $B3_END THEN $S3_0 + (i - $B2_END) // 3
       |         ELSE $S6_0 + (i - $B3_END) // 6 END AS s,
       |    CASE WHEN i < $B1_END THEN 0
       |         WHEN i < $B2_END THEN (i - $B1_END) % 2
       |         WHEN i < $B3_END THEN (i - $B2_END) % 3
       |         ELSE (i - $B3_END) % 6 END AS q,
       |    CASE WHEN i < $B1_END THEN 1 WHEN i < $B2_END THEN 2
       |         WHEN i < $B3_END THEN 3 ELSE 6 END AS nadm
       |  FROM range($N_ADM) r(i)
       |), madm1 AS (
       |  SELECT i, s, q, nadm,
       |    CASE WHEN s < $NEWBORN_SUBJ THEN 'NEWBORN'
       |         WHEN ${oracleDraw("i", "t6", 1000L)} < $ELECTIVE_T THEN 'ELECTIVE'
       |         WHEN ${oracleDraw("i", "t6", 1000L)} < $URGENT_T THEN 'URGENT'
       |         ELSE 'EMERGENCY' END AS admission_type,
       |    1 + ${oracleDraw("i", "lo", LOS_MOD)} AS los,
       |    $GAP_OFF + ${oracleDraw("i", "gb", GAP_MOD)} AS gap,
       |    (q = nadm - 1 AND s >= $NEWBORN_SUBJ AND
       |     ${oracleDraw("i", "de", 100000L)} < $DEATH_T) AS dies,
       |    ${oracleDraw("s", "bd", BASE_MOD)} AS base_day,
       |    CASE $eth END AS ethnicity
       |  FROM madm0
       |), madm2 AS (
       |  SELECT *,
       |    COALESCE(SUM(los + gap) OVER (PARTITION BY s ORDER BY q
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM madm1
       |), admissions AS (
       |  SELECT s AS subject_id, 100000 + i AS hadm_id,
       |    CAST(DATE '$EPOCH_DATE' + CAST(base_day + off AS INTEGER) AS TIMESTAMP) AS admittime,
       |    CAST(DATE '$EPOCH_DATE' + CAST(base_day + off + los AS INTEGER) AS TIMESTAMP) AS dischtime,
       |    CASE WHEN dies THEN CAST(DATE '$EPOCH_DATE' + CAST(base_day + off + los AS INTEGER) AS TIMESTAMP) END AS deathtime,
       |    admission_type, ethnicity
       |  FROM madm2
       |)""".stripMargin
  }

  /** The 245 no-diagnosis admissions (the reference's cell-22 gap: its
    * ethnicity table sums to 45,321 post-filter rows but the modeling
    * cohort is 45,076 — the difference is admissions the DIAGNOSES_ICD
    * inner join drops). Candidates are single-admission non-newborn
    * subjects that survive the death filter and carry a DOB, so the drop
    * removes EXACTLY 245 label-0 rows from the filtered set and disturbs
    * neither the 2,958 positives nor the 17-row dropna tier. Threshold
    * solved so draw(i, xd) < 1,011 lands exactly 245.
    */
  val NODIAG_T = 1011L

  private def noDiag(i: Column, f: Long = 1L): Column =
    i >= NEWBORN_SUBJ * f && i < B1_END * f &&
      draw(i, "de", 100000L) >= DEATH_T &&
      draw(i, "md", 100000L) >= MISSING_DOB_T &&
      draw(i, "xd", 100000L) < NODIAG_T

  /** DuckDB rendering of [[noDiag]]. */
  private def noDiagSql(iSql: String): String =
    s"($iSql >= $NEWBORN_SUBJ AND $iSql < $B1_END AND " +
      s"${oracleDraw(iSql, "de", 100000L)} >= $DEATH_T AND " +
      s"${oracleDraw(iSql, "md", 100000L)} >= $MISSING_DOB_T AND " +
      s"${oracleDraw(iSql, "xd", 100000L)} < $NODIAG_T)"

  /** DIAGNOSES_ICD: HADM_ID, SEQ_NUM, ICD9_CODE — 1 + draw%21 codes per
    * admission (mean 11, ≈649k rows) except the 245 [[noDiag]]
    * admissions, each drawn from a pool of EXACTLY 6,985 distinct codes:
    * 6,600 numeric (3-digit prefix 001-999 × suffix 0-6), 200 V-codes,
    * 185 E-codes — the reference's nunique.
    */
  def diagnoses(spark: SparkSession): DataFrame = diagnosesAt(spark, 1L)

  /** [[diagnoses]] at `f`× scale (no-diagnosis share ≈ proportional;
    * exact 245 pinned at f = 1 only).
    */
  def diagnosesAt(spark: SparkSession, f: Long): DataFrame = {
    val base = spark.range(N_ADM * f)
      .filter(!noDiag(col("id"), f))
      .select(
        col("id").as("i"),
        (lit(1L) + draw(col("id"), "nd", NDIAG_MOD)).as("ndiag"))
    val perCode = base.select(col("i"),
      explode(sequence(lit(1L), col("ndiag"))).as("k"))
    val v = draw(concat(col("i").cast("string"), lit("_"), col("k").cast("string")),
      "ic", N_ICD)
    perCode.select(
      (lit(100000L) + col("i")).as("HADM_ID"),
      col("k").cast("int").as("SEQ_NUM"),
      when(v < 6600L,
        concat(lpad((lit(1L) + v % 999).cast("string"), 3, "0"),
          floorDiv(v, 999).cast("string")))
        .when(v < 6800L, concat(lit("V"), lpad((v - 6600L).cast("string"), 3, "0")))
        .otherwise(concat(lit("E"), (lit(800L) + v - 6800L).cast("string")))
        .as("ICD9_CODE"))
  }

  /** DuckDB mirror of [[diagnoses]] → CTE `diagnoses_icd`. */
  def diagnosesCtes: String = {
    val v = oracleDraw("concat(CAST(i AS VARCHAR), '_', CAST(k AS VARCHAR))", "ic", N_ICD)
    s"""mdg0 AS (
       |  SELECT i, 1 + ${oracleDraw("i", "nd", NDIAG_MOD)} AS ndiag
       |  FROM range($N_ADM) r(i)
       |  WHERE NOT ${noDiagSql("i")}
       |), diagnoses_icd AS (
       |  SELECT 100000 + i AS hadm_id, CAST(k AS INTEGER) AS seq_num,
       |    CASE WHEN $v < 6600 THEN
       |           concat(lpad(CAST(1 + $v % 999 AS VARCHAR), 3, '0'),
       |                  CAST($v // 999 AS VARCHAR))
       |         WHEN $v < 6800 THEN concat('V', lpad(CAST($v - 6600 AS VARCHAR), 3, '0'))
       |         ELSE concat('E', CAST(800 + $v - 6800 AS VARCHAR)) END AS icd9_code
       |  FROM mdg0, unnest(range(1, ndiag + 1)) u(k)
       |)""".stripMargin
  }

  /** PATIENTS: SUBJECT_ID, DOB, GENDER. Ages 16-89 hash-uniform; 2.5% of
    * non-newborn subjects carry the MIMIC >89 date shift (DOB 300 years
    * back — the reference's pandas int64-ns subtraction overflows
    * negative and clamps to 90; the engine emulates with an explicit
    * >89-or-negative clamp, pinned in ReadmissionFixtureSpec). Newborn
    * subjects' DOB equals their admission day (age 0).
    */
  def patients(spark: SparkSession): DataFrame = patientsAt(spark, 1L)

  /** [[patients]] at `f`× scale. */
  def patientsAt(spark: SparkSession, f: Long): DataFrame = {
    val s = col("id")
    val missingDob = s >= NEWBORN_SUBJ * f && s < B1_END * f &&
      draw(s, "md", 100000L) < MISSING_DOB_T
    spark.range(N_SUBJECTS * f).select(
      s.as("SUBJECT_ID"),
      when(missingDob, lit(null).cast("timestamp"))
        .otherwise(dayToTs(
          when(s < NEWBORN_SUBJ * f, draw(s, "bd", BASE_MOD))
            .when(draw(s, "ov", 1000L) < 25L, draw(s, "bd", BASE_MOD) - 109500L)
            .otherwise(draw(s, "bd", BASE_MOD) -
              ((lit(16L) + draw(s, "ag", 74L)) * 365L + draw(s, "dd", 365L)))))
        .as("DOB"),
      when(draw(s, "ge", 2L) === 0L, "M").otherwise("F").as("GENDER"))
  }

  /** DuckDB mirror of [[patients]] → CTE `patients`. */
  def patientsCtes: String =
    s"""patients AS (
       |  SELECT s AS subject_id,
       |    CASE WHEN s >= $NEWBORN_SUBJ AND s < $B1_END AND
       |              ${oracleDraw("s", "md", 100000L)} < $MISSING_DOB_T
       |         THEN NULL
       |    ELSE CAST(DATE '$EPOCH_DATE' + CAST(
       |      CASE WHEN s < $NEWBORN_SUBJ THEN ${oracleDraw("s", "bd", BASE_MOD)}
       |           WHEN ${oracleDraw("s", "ov", 1000L)} < 25 THEN ${oracleDraw("s", "bd", BASE_MOD)} - 109500
       |           ELSE ${oracleDraw("s", "bd", BASE_MOD)} -
       |             ((16 + ${oracleDraw("s", "ag", 74L)}) * 365 + ${oracleDraw("s", "dd", 365L)})
       |      END AS INTEGER) AS TIMESTAMP) END AS dob,
       |    CASE WHEN ${oracleDraw("s", "ge", 2L)} = 0 THEN 'M' ELSE 'F' END AS gender
       |  FROM range($N_SUBJECTS) r(s)
       |)""".stripMargin

  /** Core vocabulary for synthetic note text — lexical variety for the
    * tokenize/stopword/lemmatize paths; the bulk of the word pool is the
    * synthetic `wNNNN` tail (see [[notes]]) sized so the reference's
    * top-3000 CountVectorizer cut is a REAL cut, not "keep everything".
    */
  val noteWords: Seq[String] = Seq(
    "patient", "admitted", "with", "acute", "chronic", "pneumonia",
    "failure", "treated", "antibiotics", "discharged", "stable", "followup",
    "history", "diabetes", "hypertension", "renal", "cardiac", "walked",
    "wounds", "healing", "medications", "continued", "improved", "days")

  val NOTE_POOL = 3500L // synthetic word tail w0000..w3499

  /** Missing-DOB tier (the reference's dropna analog): single-admission
    * non-newborn subjects with draw < MISSING_DOB_T carry a NULL DOB, so
    * age is NULL and the modeling dropna removes EXACTLY 17 cohort rows
    * — the reference's 45,076 → 45,059 final-matrix step (BASELINE.md:
    * "final numeric feature table 45,059"). All 17 are negatives, so the
    * positive count stays 2,958.
    */
  val MISSING_DOB_T = 70L

  /** Hash train/test split over the 45,059 modeling rows, tuned to the
    * reference's published 80/20 seed-42 cut EXACTLY: train 36,047 with
    * 2,360 positives / test 9,012 with 598 (BASELINE.md "train / test"
    * and "balanced undersampled train 4,720 = 2 × 2,360"). Salt sp156,
    * boundary 800,101 of 1,000,000 — re-solved for the no-diagnosis-join
    * membership.
    */
  val SPLIT_SALT  = "sp156"
  val SPLIT_BOUND = 800101L

  /** 'train'/'test' assignment for a modeling row key. */
  def trainTestSplit(hadmId: Column): Column =
    when(draw(hadmId, SPLIT_SALT, 1000000L) <= SPLIT_BOUND, "train")
      .otherwise("test")

  /** DuckDB mirror of [[trainTestSplit]]. */
  def trainTestSplitSql(keySql: String): String =
    s"CASE WHEN ${oracleDraw(keySql, SPLIT_SALT, 1000000L)} <= $SPLIT_BOUND " +
      "THEN 'train' ELSE 'test' END"

  /** Short-gap admissions (the readmission-label proxy — a positive
    * label REQUIRES its own gap < 30 unless an ELECTIVE skip intervenes)
    * route a SIGNAL_P share of their pool-word draws into a 25-word
    * risk vocabulary (w0000..w0024) — a weak, REAL text signal for the §3 text models, sized
    * so LR-on-BoW lands in the reference's published AUC band (their
    * best text model: 0.640) instead of coin-flip on label-independent
    * noise. Mirrored exactly in SQL, so the vocab/BoW oracles stay green.
    */
  val SIGNAL_P = 4L // of 100: risk-vocabulary mass on short-gap notes
  val RISK_WORDS = 25L // risk vocabulary = pool words w0000..w0024

  /** Hash-drawn word at position j of note i: 30% from [[noteWords]],
    * 70% from the `wNNNN` pool (label-proxy-biased, see [[SIGNAL_P]]) —
    * 24 + 3,500 candidate types, so the vocabulary golden (45,076 ×
    * 3,000 bag-of-words, BASELINE.md) needs an actual frequency cut.
    * Mirrored EXACTLY by [[noteTokensCtes]].
    */
  private def noteWord(i: Column, j: Column): Column = {
    val key = concat(i.cast("string"), lit("_"), j.cast("string"))
    val shortGap = (lit(GAP_OFF) + draw(i, "gb", GAP_MOD)) < 30L
    val poolIdx = when(shortGap && draw(key, "sg", 100L) < SIGNAL_P,
      draw(key, "wp", RISK_WORDS)).otherwise(draw(key, "wp", NOTE_POOL))
    when(draw(key, "wc", 10L) < 3L,
      element_at(array(noteWords.map(lit): _*),
        (draw(key, "wd", noteWords.size.toLong) + 1L).cast("int")))
      .otherwise(concat(lit("w"), lpad(poolIdx.cast("string"), 4, "0")))
  }

  /** NOTEEVENTS: ROW_ID, SUBJECT_ID, HADM_ID, CATEGORY, TEXT — ~94.2% of
    * admissions get one Discharge summary (the reference's missing-note
    * fraction), ~30% an extra Nursing note the pipeline must filter out.
    * Text is a hash-drawn word sequence reproduced bit-identically by
    * the DuckDB CTEs, so note-derived vocab/BoW rows are exactly
    * oracle-able.
    */
  def notes(spark: SparkSession): DataFrame = notesAt(spark, 1L)

  /** [[notes]] at `f`× scale. */
  def notesAt(spark: SparkSession, f: Long): DataFrame = {
    val base = spark.range(N_ADM * f).select(col("id").as("i"))
    val (s, _, _) = blockCols(col("i"), f)
    val nWords = lit(20L) + draw(col("i"), "nw", 30L)
    val wordsArr = transform(sequence(lit(1L), nWords), j => noteWord(col("i"), j))
    val summaries = base
      .filter(draw(col("i"), "hn", 1000L) < NOTE_T)
      .select(
        col("i").as("ROW_ID"), s.as("SUBJECT_ID"),
        (lit(100000L) + col("i")).as("HADM_ID"),
        lit("Discharge summary").as("CATEGORY"),
        concat_ws(" ", wordsArr).as("TEXT"))
    val nursing = base
      .filter(draw(col("i"), "nu", 1000L) < 300L)
      .select(
        // offset keeps nursing ROW_IDs disjoint from summaries at any f
        // (= the published 1000000 at f = 1, where the oracles pin it)
        (lit(math.max(1000000L, N_ADM * f * 2)) + col("i")).as("ROW_ID"), s.as("SUBJECT_ID"),
        (lit(100000L) + col("i")).as("HADM_ID"),
        lit("Nursing").as("CATEGORY"),
        lit("Vitals stable overnight.").as("TEXT"))
    summaries.unionByName(nursing)
  }

  /** The Discharge-summary notes as (HADM_ID, TEXT) — the only note
    * category the pipeline reads (the Nursing notes are filtered out).
    */
  def dischargeSummariesAt(spark: SparkSession, f: Long): DataFrame =
    notesAt(spark, f)
      .filter(col("CATEGORY") === "Discharge summary")
      .select(col("HADM_ID"), col("TEXT"))

  /** The Discharge-summary TOKEN STREAM: one (HADM_ID, word) row per
    * single-space-split token. Mirrored by [[noteTokensCtes]].
    */
  def noteTokens(spark: SparkSession): DataFrame =
    dischargeSummariesAt(spark, 1L)
      .select(col("HADM_ID"), explode(split(col("TEXT"), " ")).as("word"))

  /** DuckDB mirror of the Discharge-summary TOKEN STREAM (one row per
    * (hadm_id, word) occurrence — the exploded form every vocab/BoW
    * readout starts from; materializing the joined text string would
    * only be re-split anyway). CTE name: `note_tokens`.
    */
  def noteTokensCtes: String = {
    val key = "concat(CAST(i AS VARCHAR), '_', CAST(j AS VARCHAR))"
    val wordList = noteWords.map(w => s"'$w'").mkString(", ")
    s"""mnt0 AS (
       |  SELECT i, 20 + ${oracleDraw("i", "nw", 30L)} AS nwords,
       |    ($GAP_OFF + ${oracleDraw("i", "gb", GAP_MOD)} < 30) AS short_gap
       |  FROM range($N_ADM) r(i)
       |  WHERE ${oracleDraw("i", "hn", 1000L)} < $NOTE_T
       |), note_tokens AS (
       |  SELECT 100000 + i AS hadm_id,
       |    CASE WHEN ${oracleDraw(key, "wc", 10L)} < 3 THEN
       |      list_value($wordList)[CAST(${oracleDraw(key, "wd", noteWords.size.toLong)} + 1 AS INTEGER)]
       |    ELSE concat('w', lpad(CAST(
       |      CASE WHEN short_gap AND ${oracleDraw(key, "sg", 100L)} < $SIGNAL_P
       |           THEN ${oracleDraw(key, "wp", RISK_WORDS)}
       |           ELSE ${oracleDraw(key, "wp", NOTE_POOL)} END AS VARCHAR), 4, '0'))
       |    END AS word
       |  FROM mnt0, unnest(range(1, nwords + 1)) u(j)
       |)""".stripMargin
  }

  /** The reference's MODELING MATRIX rows (cells 7-20 composed): cohort
    * labeling + death/newborn filters + the DIAGNOSES_ICD inner join
    * (drops the 245 no-diagnosis admissions — the reference's 45,321 →
    * 45,076 cell-22 step) + patients inner join + the dropna on missing
    * DOB + the tuned train/test split. One row per matrix row: (HADM_ID,
    * SUBJECT_ID, label, split). Golden shape: 45,059 rows, train 36,047
    * (2,360 pos) / test 9,012 (598 pos).
    *
    * Scale shape: the diagnoses semi-join is a hash-agg of the diagnosis
    * table's keys broadcast against the cohort — no cohort shuffle.
    */
  def modelingRows(spark: SparkSession): DataFrame = modelingRowsAt(spark, 1L)

  /** [[modelingRows]] at `f`× scale — the Scale harness's measurement of
    * the reference pipeline's relational prefix (cohort labeling windows
    * + death/newborn filters + diagnoses semi-join + patients join +
    * dropna + split) on a 10× MIMIC.
    */
  def modelingRowsAt(spark: SparkSession, f: Long): DataFrame =
    cohortAt(spark, f).filter(survivor)
      .join(diagnosesAt(spark, f).select("HADM_ID"), Seq("HADM_ID"), "left_semi")
      .join(patientsAt(spark, f).filter(col("DOB").isNotNull).select("SUBJECT_ID"),
        Seq("SUBJECT_ID"))
      .select(col("HADM_ID"), col("SUBJECT_ID"), col("label"),
        trainTestSplit(col("HADM_ID")).as("split"))

  /** DuckDB mirror of [[modelingRows]] → CTE `mmatrix` (includes the
    * `diagnoses_icd` CTE for the semi-join — don't also splice
    * [[diagnosesCtes]] into the same WITH).
    */
  def modelingCtes: String =
    s"""$cohortCtes,
       |$patientsCtes,
       |$diagnosesCtes,
       |mmatrix AS (
       |  SELECT c.hadm_id, c.subject_id, c.label,
       |         ${trainTestSplitSql("c.hadm_id")} AS split
       |  FROM mcohort c JOIN patients p ON c.subject_id = p.subject_id
       |  WHERE c.deathtime IS NULL AND c.admission_type <> 'NEWBORN'
       |    AND p.dob IS NOT NULL
       |    AND EXISTS (SELECT 1 FROM diagnoses_icd d
       |                WHERE d.hadm_id = c.hadm_id)
       |)""".stripMargin

  /** The reference's labelled cohort (py:39-86) over [[admissionsAt]]:
    * lead / skip-ELECTIVE / backfill windows anchored on DISCHARGE, then
    * the 30-day label — one row per admission, pre-filter, with
    * `days_next` and `label` added. Mirrored by [[cohortCtes]].
    */
  def cohortAt(spark: SparkSession, f: Long): DataFrame =
    graft.ops.CohortOps.labelNextEvent(
      admissionsAt(spark, f), entityCol = "SUBJECT_ID", timeCol = "ADMITTIME",
      typeCol = "ADMISSION_TYPE", tieCol = "HADM_ID",
      excludedType = "ELECTIVE", horizonDays = 30.0, anchorCol = "DISCHTIME")

  /** [[cohortAt]] at the published scale. */
  def cohort(spark: SparkSession): DataFrame = cohortAt(spark, 1L)

  /** The reference's death + newborn exclusion (py:77): keeps the
    * admissions with no in-hospital death that are not NEWBORN — 45,321
    * of 58,976. The oracle SQL spells it
    * `deathtime IS NULL AND admission_type <> 'NEWBORN'`.
    */
  val survivor: Column = col("DEATHTIME").isNull && col("ADMISSION_TYPE") =!= "NEWBORN"

  /** The reference's cohort SQL over the generated admissions — lead +
    * ELECTIVE null-out + backfill + days from DISCHARGE + 30-day label —
    * as a CTE named `mcohort` (one row per admission, label '1'/'0',
    * pre-filter).
    */
  def cohortCtes: String =
    s"""$admissionsCtes, mled AS (
       |  SELECT *, LEAD(admittime) OVER w AS nxt_ts,
       |         LEAD(admission_type) OVER w AS nxt_ty
       |  FROM admissions
       |  WINDOW w AS (PARTITION BY subject_id ORDER BY admittime NULLS FIRST, hadm_id)
       |), mnulled AS (
       |  SELECT *, CASE WHEN nxt_ty = 'ELECTIVE' THEN NULL ELSE nxt_ts END AS nxt_ts2
       |  FROM mled
       |), mfilled AS (
       |  SELECT *, first_value(nxt_ts2 IGNORE NULLS) OVER (
       |      PARTITION BY subject_id ORDER BY admittime NULLS FIRST, hadm_id
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_time
       |  FROM mnulled
       |), mcohort AS (
       |  SELECT subject_id, hadm_id, admittime, dischtime, deathtime,
       |         admission_type, ethnicity, next_time,
       |         (epoch(next_time) - epoch(dischtime)) / 86400.0 AS days_next,
       |         CASE WHEN (epoch(next_time) - epoch(dischtime)) / 86400.0 < 30
       |              THEN '1' ELSE '0' END AS label
       |  FROM mfilled
       |)""".stripMargin
}
