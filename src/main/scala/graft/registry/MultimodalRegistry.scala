package graft
package registry

import graft.core.Tables
import graft.dedup.Dedup
import graft.functions.VectorOps
import graft.ops.{CohortOps, Recodes}
import graft.sim.{Quantized, Similarity}
import graft.text.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** multimodal (binary media) plumbing — one slice of the driver registry.
  *
  * Split out of Shared.scala in r12 (maintainability: the single file
  * had reached 8.7k lines). PURE CODE MOTION: entry bodies and oracle SQL
  * are byte-identical to the pre-split registry; SparkEntry composes the
  * slices back into the same `queries`/`oracleSql` maps. r13: misfiled
  * entries re-homed to their named family slice (pure motion again, same
  * duplicate-key guard).
  */
private[graft] object MultimodalRegistry {
  import Shared._

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // training-shard manifest: pack binary payload sizes onto a global
    // byte axis (SequencePacking's two-pass distributed cumsum — no
    // single-task window) and assign each doc its shard + in-shard offset
    "mm_shard_manifest" -> ((s, d) => {
      val sizes = t(s, d, "documents").select(
        col("doc_id"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"))
      graft.ops.SequencePacking.packWindows(
        sizes, col("n_bytes"), budget = 4096L, col("doc_id"))
        .select(col("doc_id"), col("n_bytes"), col("start_off"),
          col("first_win").as("shard_id"),
          (col("start_off") - col("first_win") * 4096L).as("shard_off"))
    }),

    "mm_binary_meta" -> ((s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        octet_length(col("text").cast("binary")).as("n_bytes"),
        length(col("text")).as("n_chars"))),

    // frame-sampling manifest from metadata only (plan WHICH frames to
    // decode before any decode touches bytes): every stride-th frame with
    // a deterministic per-doc hash phase, capped per doc — pure integer
    // arithmetic + explode, zero shuffles
    "mm_frame_sample" -> ((s, d) =>
      graft.multimodal.Multimodal.frameSampleManifest(
        t(s, d, "documents").select(col("doc_id"),
          octet_length(col("text").cast("binary")).as("n_bytes")),
        "doc_id", "n_bytes")),

    // custom DataSource V2 connector end-to-end: TableProvider →
    // ScanBuilder with column pruning + id-range predicate pushdown
    // (the pushed range SHRINKS the generated splits — strictly less
    // source work, plan-asserted) → parallel splits, zero files. The
    // generator is the portable md5 permille, so a CUSTOM SOURCE is
    // exactly oracle-checkable from DuckDB's range() + md5()
    "s17_synth_source" -> ((s, d) =>
      s.read.format("graft.sources.SynthSource")
        .option("rows", 100000).option("parts", 8)
        .load()
        .filter(col("id") >= 20000L && col("id") < 60000L)
        .groupBy("bucket").agg(count(lit(1)).as("n"))),

    // the same custom source consumed as a STREAM: offsets are id
    // positions, the AvailableNow drain pulls the bounded range through
    // the normal micro-batch machinery, and the drained aggregate must
    // equal the batch generator's answer — custom streaming source,
    // oracle-checked
    "s19_synth_stream" -> ((s, d) => {
      val stream = s.readStream.format("graft.sources.SynthSource")
        .option("rows", 50000).option("parts", 8).load()
      graft.streaming.StreamOps.runToCompletion(
        stream.groupBy("bucket").agg(count(lit(1)).as("n")),
        "graft_s19_synth_stream")
    }),

    // multimodal decode plumbing (deterministic stub decoder — see
    // graft.multimodal.Multimodal): binary payload → feature vector;
    // byte-chunk frame sampling
    // Exploded to (doc_id, idx, cnt) rows: the stub's float features are
    // byte-histogram ratios, so value*n_bytes rounds exactly back to the
    // integer bucket count — oracle-hashable (an array<float> column is
    // not) and DuckDB-expressible via the hex low-nibble of each byte.
    "mm_decode_stub" -> ((s, d) => {
      val bt = graft.multimodal.Multimodal.toBinaryTable(
        t(s, d, "documents"), "doc_id", "text", "text/plain")
      val feat = graft.multimodal.Multimodal.decodeFeatures(bt, "doc_id", dim = 16)
      feat
        .join(bt.select(col("doc_id"), col("meta.n_bytes").as("_n")), Seq("doc_id"))
        .select(col("doc_id"), col("_n"), posexplode(col("features")).as(Seq("idx", "value")))
        .select(
          col("doc_id"),
          col("idx").cast("int").as("idx"),
          round(col("value").cast("double") * col("_n")).cast("long").as("cnt"))
    }),
      // ratio * n rounds back to the EXACT integer nibble count while the
      // count fits a float's 24-bit mantissa (< ~8.4M bytes per nibble
      // bucket ≈ a 134 MB single document) — payloads here are KBs; a
      // real decoder for larger media would emit counts, not ratios

    // real multimodal ingestion surface: per-row payload FILES staged
    // executor-side, read back through Spark's binaryFile source, hashed
    // against the DuckDB view of the source text — the directory-of-media
    // → binary-column path, closed-loop
    "mm_binary_source" -> ((s, d) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_mm_files_${new java.io.File(d).getName}"
      graft.multimodal.Multimodal.stageAsFiles(t(s, d, "documents"), "doc_id", "text", dir,
        skipIfStaged = true)
      graft.multimodal.Multimodal.readBinaryFiles(s, dir)
        .select(col("doc_id"), col("n_bytes"))
    }),
      // deterministic content per sf dir → staging is skippable on re-runs
      // (bench reps measure the binaryFile READ, not tmp-file rewrites)

    "mm_chunks" -> ((s, d) => {
      val bt = graft.multimodal.Multimodal.toBinaryTable(
        t(s, d, "documents"), "doc_id", "text", "text/plain")
      graft.multimodal.Multimodal.sampleChunks(bt, "doc_id")
        .groupBy("doc_id").agg(count(lit(1)).as("n_sampled"), sum("chunk_bytes").as("sum_bytes"))
    }),

    // perceptual-hash near-dup over the binary payloads: 60-bit
    // positional-energy signature (aHash with luma stubbed to byte value —
    // a real image decoder drops in without touching blocking or join),
    // 4×15-bit pigeonhole chunk blocking, hamming ≤ 3 — hash-checked
    // against DuckDB rebuilding the same sigs from the hex dump
    // the signature table itself, hash-checked bit-for-bit — this is what
    // makes the pairs query's (possibly empty) answer non-vacuous
    "mm_phash_sigs" -> ((s, d) => {
      val bt = graft.multimodal.Multimodal.toBinaryTable(
        t(s, d, "documents"), "doc_id", "text", "text/plain")
      graft.multimodal.Multimodal.phashSignatures(
        bt.filter(octet_length(col("payload")) > 0), "doc_id")
    }),

    "mm_phash_pairs" -> ((s, d) => {
      val bt = graft.multimodal.Multimodal.toBinaryTable(
        t(s, d, "documents"), "doc_id", "text", "text/plain")
      graft.multimodal.Multimodal.phashPairs(bt, "doc_id")
    }),
  )

  val oracles: Seq[(String, String)] = Seq(
    "mm_shard_manifest" ->
      """WITH sz AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents
        |), c AS (
        |  SELECT doc_id, n_bytes,
        |         CAST(COALESCE(SUM(n_bytes) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS start_off
        |  FROM sz
        |)
        |SELECT doc_id, n_bytes, start_off,
        |       CAST(start_off // 4096 AS BIGINT) AS shard_id,
        |       CAST(start_off % 4096 AS BIGINT) AS shard_off
        |FROM c""".stripMargin,

    "mm_binary_meta" ->
      "SELECT doc_id, octet_length(encode(text)) AS n_bytes, length(text) AS n_chars FROM documents",

    "mm_frame_sample" -> graft.multimodal.Multimodal.frameSampleOracleSql(
      "documents", "doc_id", "text"),

    "s17_synth_source" ->
      """WITH g AS (
        |  SELECT CAST(concat('0x', substr(md5(concat(CAST(t.id AS VARCHAR), ':synth')), 1, 15)) AS BIGINT) % 1000 AS bucket
        |  FROM range(20000, 60000) t(id)
        |)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1""".stripMargin,

    "s19_synth_stream" ->
      """WITH g AS (
        |  SELECT CAST(concat('0x', substr(md5(concat(CAST(t.id AS VARCHAR), ':synth')), 1, 15)) AS BIGINT) % 1000 AS bucket
        |  FROM range(0, 50000) t(id)
        |)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1""".stripMargin,


    "mm_chunks" ->
      """WITH x AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n,
        |         GREATEST(CAST(CEIL(octet_length(encode(text)) / 64.0) AS INTEGER), 1) AS nc
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST((nc - 1) // 4 + 1 AS BIGINT) AS n_sampled,
        |  CAST(CASE WHEN n = 0 THEN 0
        |       ELSE 64 * ((nc - 1) // 4 + 1) -
        |            CASE WHEN (nc - 1) % 4 = 0 AND n % 64 <> 0 THEN 64 - (n % 64) ELSE 0 END
        |       END AS BIGINT) AS sum_bytes
        |FROM x""".stripMargin,

    // stub decoder mirror: feature idx = byte % 16 = low nibble of each
    // UTF-8 byte = 2nd hex char of each byte pair in hex(blob); cnt is the
    // per-nibble byte count (all 16 idx rows emitted, zeros included)
    "mm_decode_stub" ->
      """WITH h AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
        |  FROM documents
        |), nib AS (
        |  SELECT doc_id,
        |         strpos('0123456789ABCDEF',
        |                unnest(list_transform(range(1, n + 1), i -> substring(hx, 2*i, 1)))) - 1 AS idx
        |  FROM h
        |), cnt AS (
        |  SELECT doc_id, idx, count(*) AS c FROM nib GROUP BY 1, 2
        |), grid AS (
        |  SELECT doc_id, unnest(range(0, 16)) AS idx FROM h
        |)
        |SELECT g.doc_id, CAST(g.idx AS INTEGER) AS idx,
        |       CAST(COALESCE(c.c, 0) AS BIGINT) AS cnt
        |FROM grid g LEFT JOIN cnt c ON g.doc_id = c.doc_id AND g.idx = c.idx""".stripMargin,


    "mm_binary_source" ->
      "SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes FROM documents",

    "mm_phash_sigs" -> graft.multimodal.Multimodal.phashSignaturesOracleSql(
      "documents", "doc_id", "text"),

    "mm_phash_pairs" -> graft.multimodal.Multimodal.phashPairsOracleSql(
      "documents", "doc_id", "text"),
  )
}
