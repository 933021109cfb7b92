package graft.ops

import graft.Tables
import graft.functions.blockSimhash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns: media treated as opaque `binary` with typed
  * metadata. The container has no image/audio codecs, so the decode step is
  * a clearly-marked deterministic STUB — the Spark-side plumbing (binary
  * schema, per-partition batch decode via mapPartitions on a typed Dataset,
  * feature schema) is real and tested.
  *
  * 100 TB note: decode is embarrassingly parallel per partition; the
  * pattern holds on a cluster as long as media blobs are stored inline in
  * parquet (small media) or as object-store pointers decoded in
  * mapPartitions (large media).
  */
object Multimodal {

  /** Input row: opaque media bytes + id (documents.text stands in for the
    * media payload — the engine sees only `binary`).
    */
  final case class MediaRow(doc_id: Long, data: Array[Byte])

  /** Decoded-feature row emitted by the (stub) decoder. */
  final case class MediaFeatures(
      doc_id: Long, width: Int, height: Int, n_frames: Int, mean_byte: Double)

  /** STUB decoder — stands in for an image/audio codec (none in this
    * container). Deterministic features derived from the raw bytes so the
    * pipeline is testable; swap the body for a real codec in production.
    */
  def decodeStub(r: MediaRow): MediaFeatures = {
    val n = r.data.length
    val head = r.data.take(64)
    val sum = head.foldLeft(0L)((a, b) => a + (b & 0xff))
    MediaFeatures(
      doc_id = r.doc_id,
      width = 64 + n % 64,
      height = 64 + (n / 64) % 64,
      n_frames = 1 + n % 4,
      mean_byte = if (head.isEmpty) 0.0 else sum.toDouble / head.length)
  }

  /** mm_binary_stats — pure-SQL byte statistics over the binary column
    * (oracle-checked): size, hex head, derived fake dimensions.
    */
  def binaryStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(
        col("doc_id"),
        length(col("text").cast("binary")).as("n_bytes"),
        hex(substring(col("text"), 1, 8).cast("binary")).as("hex_head"))
      .withColumn("fake_w", (lit(64) + col("n_bytes") % 64).cast("int"))
      .withColumn("fake_h", expr("CAST(64 + (n_bytes div 64) % 64 AS INT)"))
      .orderBy(col("doc_id"))

  /** M48 mm_chunk_dedup — content-addressable-storage dedup estimate for
    * media blobs: split each payload into fixed 64-byte blocks, hash each
    * block, and report per document how many of its blocks also occur in
    * some OTHER document — the dedup ratio a blob store (or a transfer
    * protocol) would achieve on this corpus. Chunk count is exact integer
    * arithmetic ((n+63) div 64); chunking/hashing is per-row (transform
    * over a sequence — no UDF); block sharing is ONE hash-keyed aggregate
    * joined back, linear in total blocks, never pairwise. The byte-level
    * sibling of the token-level dedup_ngram_corpus_frac.
    */
  def chunkDedup(spark: SparkSession, sfDir: String): DataFrame = {
    // Empty docs must vanish: sequence(0, -1) would otherwise default to a
    // descending [0, -1] and emit two phantom chunks (DuckDB's range(0, 0)
    // emits none). ADVICE r4.
    val chunks = Tables.documents(spark, sfDir)
      .where(col("n_chars") > 0)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0L, (n_chars + 63) div 64 - 1),
          |  i -> md5(cast(substring(text, cast(i as int) * 64 + 1, 64) as binary)))"""
          .stripMargin)).as("h"))
    val shared = chunks.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") > 1)
      .select(col("h"), lit(1).as("is_shared"))
    chunks.join(shared, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), count(col("is_shared")).as("n_shared"))
      .select(col("doc_id"), col("n_chunks"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_chunks")).as("shared_frac"))
      .orderBy(col("doc_id"))
  }

  /** mm_frame_sample — frame-sampling plumbing: derive a deterministic
    * fake frame count from the payload size (stand-in for container
    * metadata), emit every 10th frame index. The schema/batching shape is
    * exactly what a real video sampler produces; only the metadata read is
    * faked (no codecs in this container). Oracle replicates the
    * arithmetic, so the plumbing is value-checked.
    */
  def frameSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        (lit(24) + length(col("text").cast("binary")) % 240).as("n_frames"))
      .withColumn("sampled", sequence(lit(0), col("n_frames") - 1, lit(10)))
      .select(
        col("doc_id"), col("n_frames"),
        size(col("sampled")).as("n_sampled"),
        array_join(expr("transform(sampled, x -> cast(x as string))"), ",")
          .as("idx_csv"))
      .orderBy(col("doc_id"))

  /** mm_decode_features — the mapPartitions decode pipeline over binary
    * media using the stub codec. No SQL oracle (driver rows-only check);
    * unit-tested against an independent SQL computation of the same stub.
    */
  def decodeFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text").cast("binary").as("data"))
      .as[MediaRow]
      .mapPartitions(_.map(decodeStub))
      .toDF()
      .withColumn("mean_byte", round(col("mean_byte"), 4))
      .orderBy(col("doc_id"))
  }

  /** The 60-bit block-SimHash signature stage of [[phashHamming]],
    * factored out (ADVICE r6 #4) so specs can validate it INDEPENDENTLY
    * of the band join: Round7Spec recomputes signatures for a synthetic
    * corpus with driver-side MessageDigest md5 (no Spark SQL functions),
    * and Round6Spec's banding-lossless cross-check explicitly validates
    * only the banding step on top of this shared builder.
    * Input needs (doc_id, text, n_chars); emits (doc_id, sig LONG —
    * bits 0..59, so the value is always non-negative).
    */
  private[graft] def phashSignatures(docs: DataFrame): DataFrame = {
    // Optimization round 16: the signature is a bounded per-document
    // loop, so the exploded one-row-per-block form — a corpus-wide
    // groupBy carrying 60 conditional substring aggregates per block —
    // collapses into ONE codegen'd expression
    // ([[graft.functions.BlockSimHash]]; md5-per-block, sign-sums,
    // bit-pack — bit-identical by construction, and Round7Spec pins it
    // against driver-side MessageDigest recomputation). The signature
    // pass is now a map over the corpus scan: no explode, no exchange.
    docs
      .where(col("n_chars") > 0)
      .select(col("doc_id"),
        blockSimhash(col("text"), col("n_chars").cast("bigint")).as("sig"))
  }

  /** The band-join pair stage on top of a (doc_id, sig) relation,
    * factored out (round 9) so [[graft.ops.IndexStore]] can persist the
    * pair relation once: 4×15-bit bands, Hamming cut at ≤ 10, distinct.
    * Hamming cut BEFORE the pair distinct: bit_count is a narrow per-row
    * op on the raw band-join output, so evaluating it first shrinks the
    * distinct's shuffle to the surviving pairs (the ≤10-bit round-8
    * threshold) instead of every band collision — same result set, one
    * materially smaller exchange (the band join is where candidate
    * volume peaks at scale).
    */
  private[graft] def phashPairs(sig: DataFrame): DataFrame = {
    val bands = sig.select(col("doc_id"), col("sig"),
      explode(expr("sequence(0, 3)")).as("k"))
      .withColumn("band", expr("shiftright(sig, k * 15) & 32767"))
    bands.select(col("doc_id").as("a_id"), col("sig").as("sa"),
        col("k"), col("band"))
      .join(bands.select(col("doc_id").as("b_id"), col("sig").as("sb"),
        col("k"), col("band")), Seq("k", "band"))
      .where(col("a_id") < col("b_id"))
      .withColumn("hamming", expr("bit_count(sa ^ sb)").cast("int"))
      .where(col("hamming") <= 10)
      .select(col("a_id"), col("b_id"), col("hamming")).distinct()
  }

  /** The DELTA band-join stage (round 11, incremental index maintenance):
    * pairs between a (small) delta signature set and the full merged set —
    * every candidate touching at least one delta document. Same 4×15
    * bands, same ≤10 Hamming cut as [[phashPairs]]; output canonicalized
    * (least, greatest) and distinct'd, so delta×delta pairs (found from
    * both sides) collapse to the canonical row the full build would emit.
    * Cost tracks |delta| × band density, never corpus² — the property
    * that makes the standing index updatable in place.
    */
  private[graft] def phashPairsDelta(deltaSig: DataFrame, allSig: DataFrame): DataFrame = {
    def banded(df: DataFrame, idc: String, sc: String) =
      df.select(col("doc_id").as(idc), col("sig").as(sc),
          explode(expr("sequence(0, 3)")).as("k"))
        .withColumn("band", expr(s"shiftright($sc, k * 15) & 32767"))
    banded(deltaSig, "d_id", "sd")
      .join(banded(allSig, "o_id", "so"), Seq("k", "band"))
      .where(col("d_id") =!= col("o_id"))
      .withColumn("hamming", expr("bit_count(sd ^ so)").cast("int"))
      .where(col("hamming") <= 10)
      .select(least(col("d_id"), col("o_id")).as("a_id"),
        greatest(col("d_id"), col("o_id")).as("b_id"), col("hamming"))
      .distinct()
  }

  /** M59 mm_phash_hamming — banded-Hamming near-dup detection for binary
    * media: a 60-bit block-level SimHash stands in for a perceptual hash
    * (the codec-free convention of this file — the SIGNATURE pipeline is
    * real, only the decode is faked), computed from the md5 of each
    * 64-byte payload block: hex positions 1..30 each contribute TWO
    * sign-sum bits (nibble high bit / nibble low bit — the M22 machinery
    * at block granularity, widened round 8). The width is the load-bearing
    * scale decision: the previous 16-bit signature had a ~1% RANDOM
    * collision rate at the near-dup threshold, so the pair graph grew
    * quadratically with the corpus (the sf1 slope study measured
    * mm_phash_clusters at 131 s — pure collision noise); at 60 bits a
    * random pair lands within Hamming 10 with p ≈ 7e-8 and the pair list
    * tracks the true near-dup count. Candidate pairs come from the
    * 4×15-bit band join; banding is lossless for Hamming ≤ 3 (pigeonhole)
    * and probabilistic recall above (standard LSH trade — at larger
    * corpora you add bands, not bits per band); the exact bit_count(xor)
    * re-rank keeps distance ≤ 10 (set where the fixture's TRUE near-dups
    * sit: 5–9 bits apart across all SFs, while random text stays ≥ ~20).
    * Empty payloads carry no blocks and drop out before signing (the M48
    * guard). At 100 TB: per-band keyed shuffles, never all-pairs — the
    * media twin of the MinHash band join.
    */
  def phashHamming(spark: SparkSession, sfDir: String): DataFrame =
    // serve-side: the signature pass and band join live in the standing
    // media index (round 9, IndexStore media family, build-on-first-use);
    // the report is a read + order of the persisted pair relation
    IndexStore.readMedia(spark, sfDir, "media_pairs")
      .orderBy(col("hamming"), col("a_id"), col("b_id"))

  /** A18 mm_magic_sniff — content-type sniffing over an opaque media
    * column: classify every blob by its magic bytes (JPEG FFD8FFE0, PNG
    * 89504E47, GIF 47494638, PDF 25504446, else unknown) and report the
    * per-type inventory (count, byte mass, size range) — the first audit
    * any multimodal ingest runs, because upstream MIME labels lie.
    * Payloads are synthesized (magic header ‖ text bytes, header chosen by
    * doc_id mod 5) since the container ships no real media; the sniffing
    * itself reads ONLY the bytes, never the synthesis key, and the oracle
    * builds the same blobs and sniffs the same 4-byte prefix.
    *
    * 100 TB: a pure per-row projection + one tiny keyed aggregate — the
    * scan reads the first 4 bytes of each blob (parquet column-index
    * pruning keeps the tail unread where row groups allow).
    */
  def magicSniff(spark: SparkSession, sfDir: String): DataFrame = {
    val header = expr(
      """CASE CAST(doc_id % 5 AS INT)
        |  WHEN 0 THEN unhex('FFD8FFE0') WHEN 1 THEN unhex('89504E47')
        |  WHEN 2 THEN unhex('47494638') WHEN 3 THEN unhex('25504446')
        |  ELSE CAST('' AS BINARY) END""".stripMargin)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), concat(header, col("text").cast("binary")).as("data"))
      .withColumn("magic", hex(expr("substring(data, 1, 4)")))
      .withColumn("media_type",
        when(col("magic") === "FFD8FFE0", "jpeg")
          .when(col("magic") === "89504E47", "png")
          .when(col("magic") === "47494638", "gif")
          .when(col("magic") === "25504446", "pdf")
          .otherwise("unknown"))
      .groupBy(col("media_type"))
      .agg(count(lit(1)).as("n_files"),
        sum(length(col("data")).cast("long")).as("total_bytes"),
        min(length(col("data")).cast("long")).as("min_bytes"),
        max(length(col("data")).cast("long")).as("max_bytes"))
      .orderBy(col("media_type"))
  }

  /** A19 mm_chunk_table — container parsing over the binary media column:
    * each blob is a chunked container (magic `GRFT`, then 3 chunks of
    * [4-byte tag][4-char ASCII-decimal length][payload] — the `ar`
    * archive's ASCII-length convention, chosen because it parses with
    * pure portable arithmetic) and the op walks the chunk chain OFFSET BY
    * OFFSET from the bytes, emitting the chunk table (tag, declared
    * length, payload md5) every media pipeline builds before it can route
    * chunks to decoders. Synthesis slices payloads from text; the parser
    * reads only the container bytes.
    *
    * 100 TB: a per-row projection (3 fixed substring walks — a real
    * container with variable chunk count would iterate in mapPartitions);
    * no shuffle at all until the final order for the contract output.
    */
  def chunkTable(spark: SparkSession, sfDir: String): DataFrame = {
    val build = expr(
      """concat('GRFT',
        |'TXTA', lpad(CAST(length(substring(text, 1, 10 + CAST(doc_id % 7 AS INT))) AS STRING), 4, '0'),
        |substring(text, 1, 10 + CAST(doc_id % 7 AS INT)),
        |'TXTB', lpad(CAST(length(substring(text, 21, 5 + CAST(doc_id % 11 AS INT))) AS STRING), 4, '0'),
        |substring(text, 21, 5 + CAST(doc_id % 11 AS INT)),
        |'META', lpad(CAST(length(substring(text, 41, 8 + CAST(doc_id % 5 AS INT))) AS STRING), 4, '0'),
        |substring(text, 41, 8 + CAST(doc_id % 5 AS INT)))""".stripMargin)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), build.cast("binary").as("data"))
      // parse side: bytes → string once, then offset arithmetic only
      .withColumn("s", col("data").cast("string"))
      .withColumn("t1", expr("substring(s, 5, 4)"))
      .withColumn("n1", expr("CAST(substring(s, 9, 4) AS INT)"))
      .withColumn("p1", expr("substring(s, 13, n1)"))
      .withColumn("o2", expr("13 + n1"))
      .withColumn("t2", expr("substring(s, o2, 4)"))
      .withColumn("n2", expr("CAST(substring(s, o2 + 4, 4) AS INT)"))
      .withColumn("p2", expr("substring(s, o2 + 8, n2)"))
      .withColumn("o3", expr("o2 + 8 + n2"))
      .withColumn("t3", expr("substring(s, o3, 4)"))
      .withColumn("n3", expr("CAST(substring(s, o3 + 4, 4) AS INT)"))
      .withColumn("p3", expr("substring(s, o3 + 8, n3)"))
      .select(col("doc_id"), expr(
        """stack(3,
          |  1, t1, CAST(n1 AS BIGINT), md5(p1),
          |  2, t2, CAST(n2 AS BIGINT), md5(p2),
          |  3, t3, CAST(n3 AS BIGINT), md5(p3)) AS (idx, tag, chunk_len, payload_md5)"""
          .stripMargin))
      .orderBy(col("doc_id"), col("idx"))
  }

  /** M85 mm_phash_clusters — media near-dup CLUSTERING: the banded-pHash
    * pair graph ([[phashHamming]], Hamming ≤ 3) collapsed to connected
    * components with the same O(log²) large-star/small-star machinery the
    * text pipeline uses ([[graft.ops.Dedup.starComponents]] — composed,
    * not re-implemented), reported as the cluster-size histogram — the
    * "how much duplicated media is there really" number a storage/crawl
    * review starts from. Oracle is the exact transitive closure over the
    * same pair list.
    */
  def phashClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = IndexStore.readMedia(spark, sfDir, "media_pairs")
      .select(col("a_id"), col("b_id"))
    val (labels, _) = graft.ops.Dedup.starComponents(pairs)
    labels.groupBy(col("component")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))
  }
}
