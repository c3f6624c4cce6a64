package graft.ml

import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Class-rebalancing operators (reference O4/O8–O11,
  * Hap880_Final_Project.py:447,683-687,814-817).
  *
  * Random under/over-sampling are pure narrow `sample`/`union` plans — no
  * shuffle at all. SMOTE and NearMiss need k-nearest-neighbors, which is
  * quadratic done naively; both use the engine's native LSH radius join
  * ([[NativeLsh]] — codegen'd expressions end-to-end) so the candidate
  * space is bucket-local — the only formulation that survives 100 TB
  * (SURVEY §7.5.1). Rows are keyed by an explicit `idCol` (never by
  * vector equality — UDT comparisons don't partition/join reliably).
  */
object Resamplers {

  private def classCounts(df: DataFrame, labelCol: String): (Long, Long) = {
    val counts = df.groupBy(labelCol).count().collect()
      .map(r => r.get(0).toString.toDouble -> r.getLong(1)).toMap
    (counts.getOrElse(1.0, 0L), counts.getOrElse(0.0, 0L))
  }

  /** Sample the majority class down to ~minority size (reference O4/O11). */
  def randomUndersample(df: DataFrame, labelCol: String, seed: Long = 42L): DataFrame = {
    val (nPos, nNeg) = classCounts(df, labelCol)
    if (nPos == 0 || nNeg == 0) return df
    val (minority, majority, frac) =
      if (nPos < nNeg) (col(labelCol) === 1.0, col(labelCol) =!= 1.0, nPos.toDouble / nNeg)
      else (col(labelCol) =!= 1.0, col(labelCol) === 1.0, nNeg.toDouble / nPos)
    df.filter(minority)
      .unionByName(df.filter(majority).sample(withReplacement = false, frac, seed))
  }

  /** Duplicate the minority class up to ~majority size (reference O8). */
  def randomOversample(df: DataFrame, labelCol: String, seed: Long = 42L): DataFrame = {
    val (nPos, nNeg) = classCounts(df, labelCol)
    if (nPos == 0 || nNeg == 0) return df
    val (minority, majority, frac) =
      if (nPos < nNeg) (col(labelCol) === 1.0, col(labelCol) =!= 1.0, nNeg.toDouble / nPos)
      else (col(labelCol) =!= 1.0, col(labelCol) === 1.0, nPos.toDouble / nNeg)
    df.filter(majority)
      .unionByName(df.filter(minority).sample(withReplacement = true, frac, seed))
  }

  /** SMOTE (reference O9): for each minority point, find approximate
    * same-class neighbors via random-projection LSH, pick one
    * pseudo-randomly (seeded, deterministic), and emit a synthetic point
    * on the connecting segment. Returns (idCol=-1, featuresCol, labelCol)
    * synthetic rows unioned onto the original (id, features, label)
    * projection, replicated to approach class balance.
    */
  def smote(
      df: DataFrame,
      idCol: String,
      labelCol: String,
      featuresCol: String,
      seed: Long = 42L,
      bucketLength: Double = 2.0,
      k: Int = 5,
      neighborRadius: Double = 3.0
  ): DataFrame = {
    val base = df.select(col(idCol), col(featuresCol), col(labelCol))
    val (nPos, nNeg) = classCounts(df, labelCol)
    if (nPos == 0 || nNeg == 0 || nPos == nNeg) return base
    val minorityLabel = if (nPos < nNeg) 1.0 else 0.0
    val nMin = math.min(nPos, nNeg); val nMaj = math.max(nPos, nNeg)

    val minority = base.filter(col(labelCol) === minorityLabel)
    // Cost shape: only `needed` synthetic rows are ever emitted, so only
    // ~needed seed points are joined — a deterministic hash-sample, not
    // the full minority. The join radius is finite (features are
    // standardized, so a constant radius is meaningful): an unbounded
    // radius degenerates to bucket-cross-products (measured 20× slower).
    // The kNN candidates come from the NATIVE LSH radius join (codegen'd
    // end-to-end), and the seed/neighbor VECTORS are joined back only
    // AFTER the per-seed top-k trim — k×|seeds| rows carry vectors, never
    // the full candidate set.
    val needed = nMaj - nMin
    val seedPermille = math.min(1000L, math.max(1L, needed * 1000L / nMin))
    val seeds = minority.filter(pmod(xxhash64(col(idCol), lit(seed)), lit(1000L)) < seedPermille)
    val minSlim = minority.select(col(idCol), col(featuresCol))
    val cand = NativeLsh.radiusJoin(
      seeds.select(col(idCol), col(featuresCol)), minSlim,
      idCol, featuresCol, neighborRadius, bucketLength, nTables = 3, seed = seed,
      // resampler feature spaces are wide sparse BoW rows — keep the UDT
      // representation through the LSH join (bitwise-equal distances)
      sparseAware = true)
      .withColumnRenamed("dist", "_dist")
    val w = Window.partitionBy("_ida").orderBy(col("_dist"), col("_idb"))
    // pick stays SKINNY (ids + fraction only): the parent vectors join
    // back only after the ×multiplier fan-out below, so the wide rows are
    // produced exactly where they are consumed
    val picked = cand.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .withColumn("_pick", pmod(xxhash64(col("_ida"), lit(seed)), lit(k.toLong)) + 1L)
      .filter(col("_rn") === col("_pick"))
      .withColumn("_frac",
        pmod(xxhash64(col("_ida"), col("_idb"), lit(seed)), lit(1000L)).cast("double") / 1000.0)
      .select(col("_ida"), col("_idb"), col("_frac"))
    val multiplier = math.max(1L, needed / math.max(1L, nMin * seedPermille / 1000L))
    // r14 (guide §2.5 synthetic fan-out skew): the pre-expansion frame is
    // a few KB that AQE rightly coalesces to ONE post-window partition —
    // but every row fans out into `multiplier` 3,019-wide interpolated
    // vectors, so the old plan computed (and serialized) the ENTIRE
    // synthetic set in one task (measured: a 4.0 s single-task stage
    // writing 54.6 MB — 64% of ml_smote_counts' wall). Expand the SKINNY
    // keys first, hash-repartition them (deterministic keys, ~30 B/row),
    // and only then attach the parent vectors (broadcast — the minority
    // side is sparse and small) and interpolate, so the wide compute runs
    // at full width. Same picks, fractions, and interpolated values —
    // only the partitioning of the synthetic rows moves.
    val synth = picked
      .crossJoin(org.apache.spark.sql.SparkSession.active.range(multiplier).toDF("_rep"))
      // vary the interpolation fraction per replica, staying in [0,1)
      .withColumn("_f", pmod(col("_frac") + col("_rep") * 0.37, lit(1.0)))
      .repartition(col("_ida"), col("_idb"), col("_rep"))
      .join(broadcast(minSlim.select(col(idCol).as("_ida"),
        col(featuresCol).as("_xv"))), Seq("_ida"))
      .join(broadcast(minSlim.select(col(idCol).as("_idb"),
        col(featuresCol).as("_nbv"))), Seq("_idb"))
      // the interpolation is pure expressions (zip_with over arrays), so
      // the whole synth path stays inside codegen with zero ScalaUDFs
      .select(
        lit(-1L).cast("long").as(idCol),
        // array_to_vector is always dense; re-encode sparse when the
        // interpolated support (union of the two parents') warrants it —
        // at BoW widths this is the difference between a 3,019-double
        // row and a ~70-nonzero one in every downstream fit pass
        graft.functions.GraftFunctions.compress_vector(array_to_vector(
          zip_with(vector_to_array(col("_xv")), vector_to_array(col("_nbv")),
            (x, n) => x + col("_f") * (n - x))))
          .as(featuresCol),
        lit(minorityLabel).as(labelCol))
    base.unionByName(synth)
  }

  /** NearMiss (reference O10): keep the majority points with the smallest
    * mean distance to their approximate minority neighbors, trimmed to
    * minority size; minority kept whole.
    */
  def nearMiss(
      df: DataFrame,
      idCol: String,
      labelCol: String,
      featuresCol: String,
      seed: Long = 42L,
      bucketLength: Double = 2.0,
      neighborRadius: Double = 3.0,
      minoritySampleTarget: Long = 2000L
  ): DataFrame = {
    val (nPos, nNeg) = classCounts(df, labelCol)
    if (nPos == 0 || nNeg == 0 || nPos == nNeg) return df
    val minorityLabel = if (nPos < nNeg) 1.0 else 0.0
    val nMin = math.min(nPos, nNeg)
    val minority = df.filter(col(labelCol) === minorityLabel)
    val majority = df.filter(col(labelCol) =!= minorityLabel)

    // Three things keep the kNN join linear in |majority| AND codegen'd
    // (it was the cost center of this operator — 24 s of a 35 s query):
    //  1. finite radius — an unbounded similarity join materializes every
    //     bucket-sharing (majority × minority) pair;
    //  2. the mean-distance ranking only needs an ESTIMATOR, so the
    //     minority side is a deterministic hash-sample (~minoritySampleTarget
    //     rows): the join is majority × sample, not majority × minority —
    //     at 100 TB the difference between O(n) and O(n·m);
    //  3. the join is the NATIVE LSH radius join (expressions end-to-end,
    //     no per-pair ScalaUDF distance like ml's approxSimilarityJoin).
    // Join inputs are slimmed to (id, features). Majority rows with no
    // in-radius candidate are handled by the deterministic top-up below.
    val samplePermille = math.min(1000L, math.max(1L, minoritySampleTarget * 1000L / nMin))
    val minoritySample = minority
      .filter(pmod(xxhash64(col(idCol), lit(seed)), lit(1000L)) < samplePermille)
      .select(col(idCol), col(featuresCol))
    val dists = NativeLsh.radiusJoin(
        majority.select(col(idCol), col(featuresCol)), minoritySample,
        idCol, featuresCol, neighborRadius, bucketLength, nTables = 3, seed = seed,
        sparseAware = true)
      .select(col("_ida").as("_maj_id"), col("dist").as("_dist"))
      .groupBy("_maj_id").agg(avg("_dist").as("_mean_dist"))
    // LSH only yields candidates sharing a bucket; majority rows with no
    // cross-class candidate rank last (deterministically by id) so the
    // result always has exactly nMin majority rows.
    val all = majority.select(col(idCol).as("_maj_id"))
      .join(dists, Seq("_maj_id"), "left")
      .withColumn("_mean_dist", coalesce(col("_mean_dist"), lit(Double.MaxValue)))
    // exact distributed selection — never a TakeOrdered of nMin rows
    // through the driver (nMin is minority-class size: billions at scale)
    val keep = graft.ops.GlobalTopN.topN(all, nMin, col("_mean_dist"), col("_maj_id"))
    majority
      .join(keep, majority(idCol) === keep("_maj_id"), "left_semi")
      .unionByName(minority)
  }

  // LSH settings of the §3.3 table on the unstandardized MIMIC matrix:
  // radii sized from measured minority NN distances in that space
  // (median ≈ 8, p25 pair ≈ 14), so 12 captures the k-NN shell without
  // bucket-cross-product blowup
  private val LshBucketLength = 6.0
  private val LshRadius = 12.0
  private val NearMissSampleTarget = 2000L

  /** The reference's cell-65 resamplers in its order: base, SMOTE,
    * RandomOverSampler, NearMiss, RandomUnderSampler, each a function of
    * (train, idCol, featuresCol, labelCol, seed).
    */
  private val byName: Seq[(String, (DataFrame, String, String, String, Long) => DataFrame)] = Seq(
    "base" -> ((df, _, _, _, _) => df),
    "smote" -> ((df, id, f, y, seed) => smote(df, id, y, f, seed, LshBucketLength, 5, LshRadius)),
    "oversample" -> ((df, _, _, y, seed) => randomOversample(df, y, seed)),
    "nearmiss" -> ((df, id, f, y, seed) =>
      nearMiss(df, id, y, f, seed, LshBucketLength, LshRadius, NearMissSampleTarget)),
    "undersample" -> ((df, _, _, y, seed) => randomUndersample(df, y, seed)))

  /** The §3.3 strategy names, in the reference's cell-65 order. */
  val strategies: Seq[String] = byName.map(_._1)

  /** `strategy`'s resampled train (reference cells 64-65); an unknown
    * name is rejected before any job runs.
    */
  def resample(strategy: String, train: DataFrame, idCol: String, featuresCol: String,
      labelCol: String, seed: Long): DataFrame = {
    val mk = byName.collectFirst { case (`strategy`, f) => f }.getOrElse(
      throw new IllegalArgumentException(s"unknown resampler strategy: $strategy"))
    mk(train, idCol, featuresCol, labelCol, seed)
  }
}
