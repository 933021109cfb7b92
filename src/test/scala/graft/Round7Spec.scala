package graft

import graft.functions.bloom
import graft.ops.Dedup
import org.apache.spark.sql.functions._

/** Property specs for the round-7 batch: the derived-partsupp workload
  * family and the data-sized Bloom prefilter.
  */
class Round7Spec extends SparkSpec {
  private val s = SparkSpec.spark
  import s.implicits._

  test("partsupp derivation: 4 distinct suppliers per part, bounded availqty/cost") {
    val ps = Tables.partsupp(spark, sf)
    val nPart = Tables.part(spark, sf).count()
    val nSupp = Tables.supplier(spark, sf).count()
    assert(ps.count() == 4 * nPart, "exactly 4 slots per part")
    val perPart = ps.groupBy("ps_partkey")
      .agg(countDistinct("ps_suppkey").as("n")).agg(min("n"), max("n")).head()
    assert(perPart.getLong(0) == 4 && perPart.getLong(1) == 4,
      "the 4 supplier slots are distinct for every part at this fixture size")
    val bounds = ps.agg(
      min("ps_suppkey"), max("ps_suppkey"),
      min("ps_availqty"), max("ps_availqty"),
      min("ps_cost_cents"), max("ps_cost_cents")).head()
    assert(bounds.getLong(0) >= 0 && bounds.getLong(1) < nSupp, "suppkey in range")
    assert(bounds.getLong(2) >= 1 && bounds.getLong(3) <= 9999, "availqty in [1, 9999]")
    assert(bounds.getLong(4) >= 100 && bounds.getLong(5) <= 99999,
      "cost in [1.00, 999.99] dollars as exact cents")
  }

  test("W17 wk_q2: every output row carries its part's exact minimum EUROPE cost") {
    val rows = run("wk_q2_min_cost_supplier").collect()
    assert(rows.nonEmpty)
    // per part, all reported costs must be identical (they are all THE min)
    val byPart = rows.groupBy(_.getLong(3)).view.mapValues(_.map(_.getDouble(5)).distinct)
    assert(byPart.values.forall(_.size == 1), "ties share one min cost per part")
  }

  test("W19 wk_q11: kept parts all exceed 1.6x the mean ASIA stock value") {
    val kept = run("wk_q11_important_stock").collect()
    assert(kept.nonEmpty)
    // rebuild the full per-part value relation and its mean independently
    val ps = Tables.partsupp(spark, sf)
    val asia = Tables.supplier(spark, sf)
      .join(Tables.nation(spark, sf), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(spark, sf).where(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"))
    val v = ps.join(asia, col("ps_suppkey") === col("s_suppkey"))
      .groupBy("ps_partkey")
      .agg(sum(col("ps_cost_cents") * col("ps_availqty")).as("v"))
      .select(col("ps_partkey"), col("v")).as[(Long, Long)].collect().toMap
    val mean = v.values.sum.toDouble / v.size
    val keptKeys = kept.map(_.getLong(0)).toSet
    for ((pk, value) <- v) {
      val above = value * v.size * 5 > v.values.sum * 8
      assert(keptKeys.contains(pk) == above || (above && kept.length == 100),
        s"part $pk: value $value vs 1.6x mean $mean — threshold must be exact")
    }
  }

  test("M57 sizedBloom: data-sized capacity holds realized fpp near the 1% design point") {
    // standing corpus 10x the scale a fixed small capacity would assume
    val n = 50000
    val members = s.range(n).select(concat(lit("member_"), col("id")).as("fp"))
    val sized = Dedup.sizedBloom(members, "fp")
    val probes = (0 until 10000).map(i => s"absent_$i")
    val fpSized = probes.count(sized.mightContainString).toDouble / probes.size
    assert(fpSized < 0.05, s"sized filter fpp $fpSized must stay near design 1%")
    // contrast: a filter sized for 1k items saturates on the same 50k corpus
    val saturated = members.stat.bloomFilter("fp", 1000L, 0.01)
    val fpSat = probes.count(saturated.mightContainString).toDouble / probes.size
    assert(fpSat > 0.5, s"fixed undersized capacity saturates (got $fpSat) — the failure the sizing removes")
    // no false negatives either way (the tier-2 correctness precondition)
    val memberStrings = (0 until 1000).map(i => s"member_$i")
    assert(memberStrings.forall(sized.mightContainString), "no false negatives")
  }

  test("M59 signature builder matches an independent driver-side md5 computation") {
    // ADVICE r6 #4: the banding-lossless gate validates only the band
    // join; THIS test validates the signature stage itself — the 16-bit
    // block SimHash recomputed with java MessageDigest + plain string ops
    // (no Spark SQL md5/substring/cast), on an ASCII synthetic corpus
    // (char == byte, so 64-char and 64-byte blocks coincide).
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def expectedSig(text: String): Long = {
      // 60-bit geometry (round 8): hex positions 0..29, two sign-sums each
      // (nibble-high and nibble-odd)
      val sums = new Array[Int](60)
      for (block <- text.grouped(64); h = md5hex(block); j <- 0 until 30) {
        val d = Integer.parseInt(h.charAt(j).toString, 16)
        sums(2 * j) += (if (d >= 8) 1 else -1)
        sums(2 * j + 1) += (if (d % 2 == 1) 1 else -1)
      }
      (0 until 60).map(j => if (sums(j) > 0) 1L << j else 0L).sum
    }
    val texts = Seq(
      1L -> ("the quick brown fox jumps over the lazy dog " * 5),
      2L -> "short block",
      3L -> ("a" * 64 + "b" * 64 + "c" * 30),
      4L -> ("mixed 0123456789 ascii payload with punctuation!?.," * 3))
    val docs = texts.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = graft.ops.Multimodal.phashSignatures(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, text) <- texts)
      assert(got(id) == expectedSig(text),
        s"doc $id: spark sig ${got(id)} != independent ${expectedSig(text)}")
  }

  test("M67 vec_hard_negatives: every mined pair is cross-label, ranked by sim") {
    val rows = run("vec_hard_negatives").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(1) != r.getInt(3), "a hard negative must carry a different label")
      assert(r.getInt(5) >= 1 && r.getInt(5) <= 3, "rank cut at 3")
    }
    // within a query vector, sim must be non-increasing in rank
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      val byRank = g.sortBy(_.getInt(5)).map(_.getDouble(4))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"sim not monotone in rank: ${byRank.toSeq}")
    }
  }

  test("M68 text_novelty_frac: first doc is fully novel, replayed text is not") {
    val rows = run("text_novelty_frac").collect()
    assert(rows.nonEmpty)
    val first = rows.minBy(_.getLong(0))
    assert(first.getLong(1) == first.getLong(2) && first.getDouble(3) == 1.0,
      "the earliest doc's grams are all first occurrences by definition")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "novel grams bounded by gram count")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // a duplicated document contributes zero novelty for the copy
    import org.apache.spark.sql.functions.{col => c}
    val docs = Seq((1L, "w1 w2 w3 w4 w5 w6"), (2L, "w1 w2 w3 w4 w5 w6"))
      .toDF("doc_id", "text")
    val grams = docs.select(c("doc_id"),
      explode(expr("transform(sequence(1, size(split(text,' ')) - 4), " +
        "i -> concat_ws(' ', slice(split(text,' '), i, 5)))")).as("g"))
    val f = grams.groupBy("g").agg(min("doc_id").as("fd"))
    val novel2 = grams.join(f, "g").where(c("doc_id") === 2 && c("fd") === 2).count()
    assert(novel2 == 0, "an exact replay has zero novel grams")
  }

  test("M69 pipeline_quality_weighted_sample: kept set is the exact integer-threshold set") {
    val rows = run("pipeline_quality_weighted_sample").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "kept <= docs")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // determinism: two evaluations agree exactly (no rand(), no
    // partitioning sensitivity)
    val again = run("pipeline_quality_weighted_sample").collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("A17 source_csv_permissive: capture hits exactly the planted rows") {
    val r = run("source_csv_permissive").head()
    val docs = Tables.documents(spark, sf)
    val planted = docs.where(col("doc_id") % 7 === 0).count()
    assert(r.getLong(0) == docs.count(), "every row lands")
    assert(r.getLong(1) == planted, "corrupt count = planted count")
    assert(r.getLong(2) == docs.count() - planted)
    val goodSum = docs.where(col("doc_id") % 7 =!= 0)
      .agg(sum(col("n_chars"))).head().getLong(0)
    assert(r.getLong(3) == goodSum, "clean payloads must round-trip exactly")
  }

  test("N7 dq_rolling_zscore: full windows only, flat windows yield NULL z") {
    val rows = run("dq_rolling_zscore").collect()
    assert(rows.nonEmpty)
    // synthetic cross-check of the closed form on a hand-computable window
    val xs = Seq(10L, 10L, 10L, 10L, 10L, 10L, 17L) // mean 11, var (7*829-77^2)/42
    val sx = xs.sum; val sxx = xs.map(x => x * x).sum
    val varnum = 7 * sxx - sx * sx
    val z = (17.0 - sx / 7.0) / math.sqrt(varnum / 42.0)
    assert(math.abs(z - 2.2677868380553634) < 1e-9, "sanity of the closed form")
    // production rows: z must be NULL only when the window is flat
    rows.foreach { r =>
      if (r.isNullAt(4)) {
        // flat window: x equals the (rounded) mean exactly
        assert(r.getDouble(3) == r.getLong(2).toDouble,
          s"NULL z only for zero-variance windows: $r")
      }
    }
  }

  test("M70 pipeline_epoch_shuffle: permutations are reproducible and epoch-distinct") {
    val a = run("pipeline_epoch_shuffle").collect()
    val b = run("pipeline_epoch_shuffle").collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq, "pure function of (epoch, doc_id)")
    val byEpoch = a.groupBy(_.getInt(0)).view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq)
    assert(byEpoch.keySet == Set(0, 1, 2))
    assert(byEpoch(0) != byEpoch(1) && byEpoch(1) != byEpoch(2),
      "different epochs must produce different orders")
    byEpoch.values.foreach(m => assert(m.size == 10 && m.distinct.size == 10))
  }

  test("M71 dedup_band_tuning_sweep: candidate sets and recall are monotone in band count") {
    val rows = run("dedup_band_tuning_sweep").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("b1r4", "b2r2", "b4r1"))
    // agreeing on all 4 sigs => agreeing on both halves => agreeing on any
    // single sig: candidates(b1r4) <= candidates(b2r2) <= candidates(b4r1)
    def cand(c: String) = rows(c).getLong(2)
    def hit(c: String) = rows(c).getLong(3)
    assert(cand("b1r4") <= cand("b2r2") && cand("b2r2") <= cand("b4r1"))
    assert(hit("b1r4") <= hit("b2r2") && hit("b2r2") <= hit("b4r1"))
    // the three rows share one ground truth
    assert(rows.values.map(_.getLong(1)).toSet.size == 1)
  }

  test("M72 BloomSketch: partial buffers OR-merge losslessly across partitions") {
    // 8 input partitions force real partial-aggregate merges
    val members = s.range(20000).repartition(8)
      .select(concat(lit("m_"), col("id")).as("fp"))
    val buckets = members
      .withColumn("bucket", pmod(xxhash64(col("fp")), lit(4L)))
      .groupBy(col("bucket")).agg(bloom(col("fp"), 5000L, 0.01).as("bf"))
      .collect()
      .map(r => r.getLong(0) -> org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))).toMap
    assert(buckets.size == 4)
    // no false negatives through update+merge+serialize: every member
    // probes true in ITS bucket
    val missed = (0 until 20000).count { i =>
      val fp = s"m_$i"
      val b = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(fp),
        org.apache.spark.sql.types.StringType, 42L)
      val bucket = ((b % 4) + 4) % 4
      !buckets(bucket).mightContainString(fp)
    }
    assert(missed == 0, s"$missed false negatives — merge must be lossless")
    // realized fpp near design: probe absent keys through the same routing
    val fps = (0 until 10000).count { i =>
      val fp = s"absent_$i"
      val b = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(fp),
        org.apache.spark.sql.types.StringType, 42L)
      val bucket = ((b % 4) + 4) % 4
      buckets(bucket).mightContainString(fp)
    }
    assert(fps < 500, s"realized fpp ${fps / 10000.0} should stay near 1%")
  }

  test("M72 dedup_bloom_partitioned equals the single-filter report exactly") {
    val part = run("dedup_bloom_partitioned").collect().map(_.toString)
    val single = run("dedup_bloom_prefilter").collect().map(_.toString)
    assert(part.toSeq == single.toSeq,
      "bloom-independent counts: partitioned and single-filter builds must agree")
  }

  test("M57 bloom probe is null-safe: null text rows flow through, not NPE") {
    val docs = Seq((1L, "alpha beta gamma", "web"), (10L, null.asInstanceOf[String], "web"),
      (20L, "alpha beta gamma", "book"), (3L, null.asInstanceOf[String], "book"))
      .toDF("doc_id", "text", "source")
    // run the same fingerprint + probe shape bloomPrefilter uses
    val fpCol = md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8)).cast("binary"))
    val existing = docs.where(col("doc_id") % 10 =!= 0).select(fpCol.as("fp"))
    val bloom = Dedup.sizedBloom(existing, "fp")
    val bc = s.sparkContext.broadcast(bloom)
    val mightContain = udf((x: String) => x != null && bc.value.mightContainString(x))
    val incoming = docs.where(col("doc_id") % 10 === 0)
      .select(col("doc_id"), when(col("text").isNotNull, fpCol).as("fp"))
    val out = incoming.where(mightContain(col("fp"))).collect()
    assert(out.map(_.getLong(0)).toSet == Set(20L),
      "null-text incoming row must be silently non-matching, duplicate text row must probe true")
  }

  // ── batch 4: PQ/ADC, label propagation, compaction, sniffing, URL dedup ──

  test("J21/J22 PQ: trained codes stay in range; the Lloyd round strictly reduces mean qerr") {
    val e = Tables.embeddings(spark, sf)
    val (_, codes) = graft.ops.Similarity.pqIndex(e)
    val c = codes.collect()
    assert(c.nonEmpty && c.forall { r =>
      val code = r.getInt(2); code >= 0 && code <= 15
    }, "every code indexes the 16-entry codebook")
    assert(codes.groupBy(col("vec_id")).count().collect().forall(_.getLong(1) == 4),
      "exactly 4 subspace codes per vector")
    // VERDICT r7 #3 'done' criterion: per subspace, the trained codebook's
    // mean squared residual is STRICTLY below the first-16-sampled
    // bootstrap's (one Lloyd M-step weakly decreases within-cluster SS;
    // on real spread the drop is strict in every subspace)
    def meanBySubspace(codes: org.apache.spark.sql.DataFrame): Map[Int, Double] =
      codes.groupBy(col("s")).agg(avg(col("qerr")).as("mq"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val trained = meanBySubspace(codes)
    // the bootstrap: each subspace's codebook is the first 16 vectors'
    // subvectors, encoded with the same argmin kernel as the trained index
    val sampledCb = e.where(col("vec_id") < 16)
      .crossJoin(spark.range(4).select(col("id").cast("int").as("s")))
      .select(col("s"), col("vec_id").cast("int").as("c"),
        expr("transform(slice(embedding, s * 16 + 1, 16), x -> CAST(x AS DOUBLE))").as("cb"))
    val sampled = meanBySubspace(graft.ops.Similarity.pqEncodeAgainst(e, sampledCb))
    assert(trained.keySet == Set(0, 1, 2, 3) && sampled.keySet == Set(0, 1, 2, 3))
    for (s <- 0 to 3)
      assert(trained(s) < sampled(s),
        s"subspace $s: trained mean qerr ${trained(s)} must drop strictly below sampled ${sampled(s)}")
  }

  test("J21 ADC: approximate distances agree with exact PQ reconstruction on top hits") {
    // independent check of the LUT arithmetic: adc(a, b) must equal the
    // sum of the four per-subspace residual d2s computed directly
    val rows = run("vec_pq_adc_topk").collect()
    assert(rows.nonEmpty && rows.forall(_.getDouble(2) >= 0.0),
      "squared distances are non-negative")
    val perQuery = rows.groupBy(_.getLong(0))
    assert(perQuery.forall { case (_, rs) =>
      rs.sortBy(_.getInt(3)).map(_.getDouble(2)).sliding(2).forall {
        case Array(x, y) => x <= y; case _ => true }
    }, "rank order follows adc ascending within each query")
  }

  test("M77 label propagation: held-out slice, coverage, and vote provenance") {
    val out = run("graph_label_propagation").collect()
    assert(out.nonEmpty, "held-out nodes exist")
    assert(out.forall(_.getLong(0) % 5 == 0), "only held-out nodes are reported")
    val withPred = out.filter(!_.isNullAt(2))
    assert(withPred.length.toDouble / out.length >= 0.8,
      "the 5-NN graph must reach >=80% of held-out nodes in 2 rounds")
    assert(out.forall(r => r.isNullAt(2) || (r.getInt(2) >= 0 && r.getInt(2) <= 9)),
      "predictions come from the observed label alphabet")
    assert(out.forall { r =>
      val expect = if (!r.isNullAt(2) && r.getInt(2) == r.getInt(1)) 1 else 0
      r.getInt(3) == expect
    }, "correct flag recomputes from (label_pred, label_true)")
    // NOTE on accuracy: this fixture's labels are geometry-independent
    // (same-label fraction of the exact 5-NN graph is ~0.10 = chance for
    // 10 classes), so no propagation scheme can beat chance HERE; the
    // contract under test is the clamped-vote mechanics, which the
    // DuckDB oracle replicates round by round.
  }

  test("M79 compaction plan: bins partition the manifest in order and conserve bytes") {
    val bins = run("pipeline_compaction_plan").collect().sortBy(_.getLong(0))
    assert(bins.nonEmpty)
    // conservation: bin byte mass equals the manifest byte mass
    val total = Tables.documents(spark, sf).agg(sum("n_chars")).head().getLong(0)
    assert(bins.map(_.getLong(2)).sum == total, "no bytes dropped or duplicated")
    // order: consecutive bins hold disjoint, increasing file-id ranges
    bins.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(4) < b.getLong(3),
        s"bin ${a.getLong(0)} last_file must precede bin ${b.getLong(0)} first_file")
      case _ =>
    }
    // next-fit invariant: the byte total through bin k lands exactly in
    // bin k+1's target window — i.e. each bin closed because the running
    // sum crossed its boundary, never early and never late
    val target = 16384L
    var running = 0L
    for (i <- 0 until bins.length - 1) {
      running += bins(i).getLong(2)
      val nextBin = bins(i + 1).getLong(0)
      assert(running >= nextBin * target && running < (nextBin + 1) * target,
        s"running total $running must open bin $nextBin")
    }
  }

  test("A18 magic sniff: byte-level classification recovers the planted types exactly") {
    val out = run("mm_magic_sniff").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // independent derivation from the synthesis key, never the bytes
    val byKey = Tables.documents(spark, sf)
      .groupBy(expr("CAST(doc_id % 5 AS INT)").as("k")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out("jpeg") == byKey(0) && out("png") == byKey(1)
      && out("gif") == byKey(2) && out("pdf") == byKey(3)
      && out("unknown") == byKey(4),
      "sniffed counts must match the planted header distribution")
  }

  test("M78 URL canonicalization: policy is idempotent and groups are real duplicates") {
    val out = run("dedup_url_canonical").collect()
    assert(out.nonEmpty, "synthesis moduli must produce duplicate groups")
    assert(out.forall(_.getLong(2) > 1), "only duplicate groups are reported")
    // idempotence: running the canonicalization over the canonical forms
    // is the identity (no www/port/utm/fragment/trailing-slash residue)
    val canon = out.map(_.getString(0))
    assert(canon.forall(u => u == u.toLowerCase), "canonical forms are case-folded")
    assert(canon.forall(u => !u.contains("www.") && !u.contains("utm_")
      && !u.contains("#") && !u.contains(":80") && !u.contains(":443")
      && !u.endsWith("/")),
      "no canonicalization-target residue survives")
  }

  test("J23 IVF-PQ: cell pruning can only push ADC distances up, never down") {
    // per query and rank, the cell-pruned top-k distance must be >= the
    // full-scan ADC top-k distance at the same rank (pruning loses
    // candidates, it never invents closer ones)
    val full = run("vec_pq_adc_topk").collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getDouble(2)).toMap
    val pruned = run("ann_ivf_pq_topk").collect()
    assert(pruned.nonEmpty)
    assert(pruned.forall { r =>
      full.get((r.getLong(0), r.getInt(3))).forall(_ <= r.getDouble(2) + 1e-9)
    }, "IVF-pruned rank-k ADC distance dominates the full-scan one")
  }

  test("J24 rerank: exact order within the shortlist, true top-1 surfaces when present") {
    val out = run("vec_pq_rerank").collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getInt(4) >= 1 && r.getInt(4) <= 50),
      "every hit comes from the ADC top-50 shortlist")
    // brute-force exact top-1 per query from the raw vectors (driver-side,
    // fully independent of the PQ machinery)
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }; s
    }
    for (a <- 0L until 8L) {
      val qa = vecs(a)
      val exactTop = vecs.filter(_._1 != a)
        .map { case (b, vb) => (b, dot(qa, vb)) }
        .maxBy { case (b, d) => (d, -b) }._1
      val ranked = out.filter(_.getLong(0) == a).sortBy(_.getInt(3))
      val inShortlist = ranked.exists(_.getLong(1) == exactTop)
      if (inShortlist)
        assert(ranked.head.getLong(1) == exactTop,
          s"query $a: exact NN $exactTop is in the shortlist, so re-rank must put it first")
    }
  }

  test("A19 chunk table: the parsed payloads match direct text slices byte for byte") {
    val out = run("mm_chunk_table")
    // recover each chunk's payload md5 STRAIGHT from documents.text (no
    // container, no offsets) and demand the parser found the same bytes
    val direct = Tables.documents(spark, sf).select(col("doc_id"), expr(
      """stack(3,
        |  1, CAST(length(substring(text, 1, 10 + CAST(doc_id % 7 AS INT))) AS BIGINT), md5(substring(text, 1, 10 + CAST(doc_id % 7 AS INT))),
        |  2, CAST(length(substring(text, 21, 5 + CAST(doc_id % 11 AS INT))) AS BIGINT), md5(substring(text, 21, 5 + CAST(doc_id % 11 AS INT))),
        |  3, CAST(length(substring(text, 41, 8 + CAST(doc_id % 5 AS INT))) AS BIGINT), md5(substring(text, 41, 8 + CAST(doc_id % 5 AS INT)))) AS (idx, chunk_len, payload_md5)"""
        .stripMargin))
    assert(out.count() == direct.count())
    assert(out.join(direct, Seq("doc_id", "idx", "chunk_len", "payload_md5")).count()
      == direct.count(), "every parsed chunk matches its source slice")
    val tags = out.groupBy(col("idx")).agg(countDistinct(col("tag")).as("n")).collect()
    assert(tags.forall(_.getLong(1) == 1), "tag is constant per chunk slot")
  }

  test("N10 freshness: the freshest type lags zero, totals reconcile") {
    val out = run("dq_freshness_lag").collect()
    assert(out.map(_.getLong(1)).sum == Tables.events(spark, sf).count(),
      "per-type counts partition the table")
    assert(out.exists(_.getLong(3) == 0L), "some type holds the global max")
    assert(out.forall(r => (r.getLong(3) > 60) == (r.getInt(4) == 1)),
      "sla_breach is exactly the >60min rule")
  }

  test("M80 shard manifest: contiguous doc ranges, conserved tokens, bounded skew") {
    val out = run("pipeline_shard_manifest").collect().sortBy(_.getLong(0))
    assert(out.forall(r => r.getLong(0) >= 0 && r.getLong(0) <= 15), "16 shards max")
    val total = Tables.documents(spark, sf)
      .agg(sum(size(split(col("text"), " ")).cast("long"))).head().getLong(0)
    assert(out.map(_.getLong(2)).sum == total, "token mass conserved")
    out.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(4) < b.getLong(3),
        "shards cover contiguous, disjoint doc_id ranges")
      case _ =>
    }
    // proportional splitting keeps every shard within a doc of its quota:
    // share deviation bounded by the largest single document's tokens
    val maxDoc = Tables.documents(spark, sf)
      .agg(max(size(split(col("text"), " ")).cast("long"))).head().getLong(0)
    val quota = total / 16.0
    assert(out.forall(r => math.abs(r.getLong(2) - quota) <= maxDoc + quota / 16),
      "every shard sits within one document of the even split")
  }

  test("M81 modularity: internal consistency and the geometry-independence verdict") {
    val r = run("graph_modularity_labels").head()
    val (l, intra, sumD2, q) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    assert(l > 0 && intra >= 0 && intra <= l)
    val expected = BigDecimal((4.0 * l * intra - sumD2) / (4.0 * l * l))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(q - expected) < 1e-9, "modularity recomputes from its own counts")
    // this fixture's labels are independent of geometry: Q must sit near 0
    assert(math.abs(q) < 0.2, s"geometry-independent labels must score Q≈0, got $q")
  }

  test("M82 PQ-code blocking: every candidate pair shares the full code word") {
    val out = run("dedup_pq_codes").collect()
    assert(out.nonEmpty, "4-code collisions exist at every fixture size")
    val codes = graft.ops.Similarity.pqIndex(Tables.embeddings(spark, sf))._2
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getInt(2)).toSeq).toMap
    assert(out.forall { r =>
      codes(r.getLong(1)) == codes(r.getLong(2))
    }, "blocking admits exactly the identical-code-word pairs")
    // block id decodes back to the shared word
    assert(out.forall { r =>
      val cs = codes(r.getLong(1))
      r.getInt(0) == cs(0) * 4096 + cs(1) * 256 + cs(2) * 16 + cs(3)
    }, "block id is the packed code word")
  }

  test("M83 paragraph dedup: segment conservation and global first-keeper") {
    val out = run("text_paragraph_dedup").collect()
    val segs = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), "\\. ")).as("seg"))
      .where(length(col("seg")) > 0)
    assert(out.map(_.getLong(1)).sum == segs.count(), "all segments accounted for")
    assert(out.map(_.getLong(2)).sum ==
      segs.select(md5(col("seg"))).distinct().count(),
      "exactly one keeper per distinct segment fingerprint, corpus-wide")
    assert(out.forall(r => r.getLong(2) >= 1 || r.getLong(1) == 0),
      "a doc with segments keeps at least... (first doc always keeps its first)")
  }

  test("N11 Tukey fences: outlier counts recompute from the raw daily series") {
    val out = run("dq_outlier_tukey").collect()
    assert(out.nonEmpty)
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2))).toMap
    out.foreach { r =>
      val xs = daily(r.getString(0))
      assert(r.getLong(1) == xs.length, "n_days matches the series length")
      val lo = r.getDouble(4); val hi = r.getDouble(5)
      assert(r.getLong(6) == xs.count(x => x < lo || x > hi),
        "outlier count is exactly the fence rule on the raw series")
      assert(lo <= hi && r.getDouble(2) <= r.getDouble(3), "fences are ordered")
    }
  }

  test("D10 SQL UDF: the catalog function computes exactly the inline revenue") {
    val viaUdf = run("sql_udf_scalar").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val direct = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(graft.ops.Cols.revenue).cast("double").as("rev"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(viaUdf == direct, "SQL UDF result must be bit-identical to Cols.revenue")
  }

  test("D11 SQL table function: each invocation is the plain top-5 slice") {
    val out = run("sql_udf_table").collect()
    assert(out.groupBy(_.getString(0)).forall(_._2.length <= 5))
    for (st <- Seq("F", "O", "P")) {
      val direct = Tables.orders(spark, sf)
        .where(col("o_orderstatus") === st)
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(5).select(col("o_orderkey")).collect().map(_.getLong(0)).toSeq
      val got = out.filter(_.getString(0) == st).map(_.getLong(1)).toSeq
      assert(got == direct, s"status $st: table function returns the direct top-5")
    }
  }

  test("J25 binary quantization: sign words recompute driver-side, Hamming is exact") {
    val out = run("vec_binary_hamming_topk").collect()
    assert(out.nonEmpty && out.forall(r => r.getInt(2) >= 0 && r.getInt(2) <= 63))
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def word(v: Array[Float]): Long =
      (0 until 63).foldLeft(0L)((acc, i) => if (v(i) > 0f) acc | (1L << i) else acc)
    assert(out.forall { r =>
      val h = java.lang.Long.bitCount(word(vecs(r.getLong(0))) ^ word(vecs(r.getLong(1))))
      h == r.getInt(2)
    }, "reported Hamming distances match an independent driver-side packing")
  }

  test("M84 BPE pairs: top-20 matches an independent driver-side tally") {
    val out = run("text_bpe_pair_stats").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(out.length == 20 && out.forall(_._1.length == 2))
    val tally = scala.collection.mutable.Map.empty[String, Long]
    Tables.documents(spark, sf).select(col("text")).collect().foreach { r =>
      r.getString(0).split(" ").filter(_.length >= 2).foreach { w =>
        (0 until w.length - 1).foreach { i =>
          val p = w.substring(i, i + 2)
          tally(p) = tally.getOrElse(p, 0L) + 1L
        }
      }
    }
    val expect = tally.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    assert(out.toSeq == expect, "exact counts and tie order from plain Scala")
  }

  test("N12 PK uniqueness: catches lineitem's real composite-key duplicates") {
    val out = run("dq_pk_uniqueness").collect()
    assert(out.length == 8)
    // the audit's reason to exist: the synthetic lineitem genuinely
    // reuses (l_orderkey, l_linenumber) pairs (~23% dup rows at every
    // SF) — the audit must flag it, and ONLY it
    val (dirty, clean) = out.partition(_.getString(0) == "lineitem")
    assert(dirty.head.getInt(4) == 1 && dirty.head.getLong(3) > 0L,
      "lineitem's duplicate composite keys are flagged")
    assert(clean.forall(r => r.getInt(4) == 0 && r.getLong(3) == 0L),
      "all seven other tables have clean primary keys")
    val li = dirty.head
    val expect = Tables.lineitem(spark, sf)
      .select(countDistinct(col("l_orderkey"), col("l_linenumber"))).head().getLong(0)
    assert(li.getLong(2) == expect, "distinct count reconciles")
    val orders = out.find(_.getString(0) == "orders").get
    assert(orders.getLong(1) == Tables.orders(spark, sf).count())
  }

  test("L24 seasonal ANOVA: trimmed spine shape, R2 recomputes, bounded") {
    val r = run("ts_seasonal_anova").head()
    assert(r.getLong(0) == 28 && r.getLong(1) == 672,
      "the 30-day fixture trims to 28 complete days = 672 hours")
    val (sstN, sswM) = (r.getLong(2), r.getLong(3))
    val r2 = r.getDouble(4)
    assert(r2 >= 0.0 && r2 <= 1.0, "ANOVA R2 is a variance share")
    val n = r.getLong(1); val m = n / 24
    val expect = BigDecimal(1.0 - (n * sswM).toDouble / (m * sstN).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(r2 - expect) < 1e-9, "R2 recomputes from its own moments")
    assert(r.getInt(5) >= 0 && r.getInt(5) <= 23)
  }

  test("L25 forecast baselines: spine shape and MAE arithmetic reconcile") {
    val out = run("ts_forecast_baseline_mae").collect()
    assert(out.nonEmpty)
    // 30-day fixture span: 720 spine hours per type, minus 24 warm-up lags
    assert(out.forall(_.getLong(1) == 696L),
      "every type evaluates over the same 696-hour window")
    assert(out.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(3) >= 0.0))
    assert(out.forall { r =>
      r.isNullAt(4) || math.abs(r.getDouble(4) -
        BigDecimal(r.getDouble(3) / r.getDouble(2))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9
    }, "ratio recomputes from the two reported MAEs")
  }

  test("M85 pHash clusters: histogram matches a driver-side union-find") {
    val hist = run("mm_phash_clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = run("mm_phash_hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "the banded pair graph is non-empty at this fixture")
    // independent union-find over the same pair list
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expect = nodes.groupBy(find).map(_._2.length.toLong)
      .groupBy(identity).map { case (sz, xs) => sz -> xs.size.toLong }
    assert(hist == expect, "cluster-size histogram matches union-find")
    assert(hist.keys.forall(_ >= 2), "only paired nodes form clusters")
  }

  test("M86 Chao1: richness estimate recomputes from a driver-side tally") {
    val r = run("text_vocab_chao1").head()
    val tally = scala.collection.mutable.Map.empty[String, Long]
    Tables.documents(spark, sf).select(col("text")).collect().foreach { row =>
      row.getString(0).split(" ").filter(_.nonEmpty)
        .foreach(w => tally(w) = tally.getOrElse(w, 0L) + 1L)
    }
    val (n, d) = (tally.values.sum, tally.size.toLong)
    val f1 = tally.values.count(_ == 1L).toLong
    val f2 = tally.values.count(_ == 2L).toLong
    assert(r.getLong(0) == n && r.getLong(1) == d
      && r.getLong(2) == f1 && r.getLong(3) == f2)
    assert(r.getDouble(4) >= d.toDouble, "Chao1 is a lower bound >= observed vocab")
  }

  test("M87 Gopher gates: the ANY row bounds the per-rule rows") {
    val out = run("text_gopher_gates").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.size == 5)
    val any = out("ANY_RULE")
    val rules = out - "ANY_RULE"
    assert(rules.values.forall(_ <= any), "no single rule exceeds the union")
    assert(any <= rules.values.sum, "the union is at most the sum")
    val nDocs = run("text_gopher_gates").head().getLong(2)
    assert(nDocs == Tables.documents(spark, sf).count())
  }

  test("M89 LOO encoding: excluding the row moves the mean the right way") {
    val out = run("ml_target_encode_loo").collect()
    assert(out.nonEmpty)
    // independent recount: category means including vs excluding each row
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v")).collect()
    val byType = ev.groupBy(_.getString(1))
      .view.mapValues(rs => (rs.length.toLong, rs.map(_.getLong(2)).sum)).toMap
    assert(out.forall { r =>
      val (n, s) = byType(r.getString(1))
      val v = ev.find(_.getLong(0) == r.getLong(0)).get.getLong(2)
      val expect = BigDecimal((s - v).toDouble / ((n - 1) * 100.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      math.abs(r.getDouble(2) - expect) < 1e-9
    }, "every encoding recomputes from the raw cents")
  }

  test("M90 feature hash: slots in range, token mass conserved") {
    val out = run("ml_feature_hash").collect()
    assert(out.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 64))
    val total = Tables.documents(spark, sf).where(col("doc_id") < 100)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0).count()
    assert(out.map(_.getLong(2)).sum == total,
      "every token lands in exactly one slot")
    // the digest spreads: the slice's ~31 distinct words should land in
    // nearly as many distinct slots (collision-free ≈ uniform hashing)
    val vocab = Tables.documents(spark, sf).where(col("doc_id") < 100)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0).distinct().count()
    assert(out.map(_.getInt(1)).distinct.length >= math.min(64L, vocab) * 4 / 5,
      "hashing spreads: >=80% of the (slot-capped) vocabulary gets its own slot")
  }

  test("N13 Welch t-test: arms partition purchases, statistic recomputes") {
    val r = run("dq_ab_ttest").head()
    val nPurch = Tables.events(spark, sf)
      .where(col("event_type") === "purchase").count()
    assert(r.getLong(0) + r.getLong(1) == nPurch, "arms partition the purchases")
    val (m0, m1, v0, v1) = (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
    val (n0, n1) = (r.getLong(0), r.getLong(1))
    val se2 = v0 / n0 + v1 / n1
    val t = BigDecimal((m0 - m1) / math.sqrt(se2))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(r.getDouble(6) - t) < 1e-9, "t recomputes from reported moments")
    val df = BigDecimal(se2 * se2 /
      ((v0 / n0) * (v0 / n0) / (n0 - 1) + (v1 / n1) * (v1 / n1) / (n1 - 1)))
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(r.getDouble(7) - df) < 1e-9, "Welch df recomputes")
    assert(r.getDouble(7) <= (n0 + n1 - 2).toDouble + 1e-9,
      "Welch df never exceeds the pooled df")
  }

  test("J26 scaler fit: moments recompute from a driver-side fixed-point pass") {
    val out = run("ml_feature_scaler_fit").collect()
    assert(out.length == 8)
    val vecs = Tables.embeddings(spark, sf).select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    out.foreach { r =>
      val d = r.getInt(0)
      val xs = vecs.map(_(d))
      assert(r.getLong(1) == xs.length)
      val xi = xs.map(x => math.round(x.toDouble * 1048576))
      val (s, q) = (xi.sum, xi.map(v => v * v).sum)
      val n = xs.length.toLong
      val mean = BigDecimal(s.toDouble / (n * 1048576.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(4) - mean) < 1e-9, s"dim $d mean")
      val std = BigDecimal(math.sqrt((n.toDouble * q - s.toDouble * s) /
        (n.toDouble * (n - 1) * 1048576.0 * 1048576.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(5) - std) < 1e-6, s"dim $d std")
      assert(r.getDouble(2) <= r.getDouble(4) && r.getDouble(4) <= r.getDouble(3),
        "min <= mean <= max")
    }
  }

  test("M92 license filter: shares and counts conserve, policy flags consistent") {
    val out = run("pipeline_license_filter").collect()
    assert(out.map(_.getLong(1)).sum == Tables.documents(spark, sf).count())
    val bp = out.map(_.getLong(3)).sum
    assert(bp <= 10000 && bp >= 10000 - out.length, "floor-rounded shares sum to ~100%")
    val allowed = out.filter(_.getInt(4) == 1).map(_.getString(0)).toSet
    assert(allowed == Set("cc-by", "cc-by-sa", "cc0"))
    assert(out.forall(r => r.getInt(5) == 0 || r.getInt(4) == 1),
      "attribution is only required on allowed licenses")
  }

  test("N14 incident islands: maximal runs of flagged days, nothing merged or split") {
    val out = run("dq_incident_islands").collect()
    assert(out.nonEmpty, "the 1.1x-mean flag fires at every fixture size")
    // independent recount: flag days driver-side, then check each
    // incident is a maximal consecutive run
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")).collect()
      .groupBy(_.getString(0))
    out.groupBy(_.getString(0)).foreach { case (et, incidents) =>
      val series = daily(et).map(r => (r.getDate(1).toLocalDate, r.getLong(2)))
      val n = series.length.toLong; val s = series.map(_._2).sum
      val flagged = series.filter { case (_, x) => 10 * x * n > 11 * s }
        .map(_._1).sortBy(_.toEpochDay)
      assert(incidents.map(_.getLong(3)).sum == flagged.length,
        s"$et: incident days partition the flagged days")
      incidents.foreach { inc =>
        val a = java.time.LocalDate.parse(inc.getString(1))
        val b = java.time.LocalDate.parse(inc.getString(2))
        assert(b.toEpochDay - a.toEpochDay + 1 == inc.getLong(3),
          "duration equals the day span (no gaps inside an island)")
        assert(!flagged.contains(a.minusDays(1)) && !flagged.contains(b.plusDays(1)),
          "islands are maximal")
        assert((a.toEpochDay to b.toEpochDay)
          .forall(d => flagged.contains(java.time.LocalDate.ofEpochDay(d))),
          "every day inside an island is flagged")
      }
    }
  }

  test("M93 version hash: XOR composes across sources and ignores partitioning") {
    val out = run("pipeline_version_hash").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val all = out("ALL")
    val parts = out - "ALL"
    assert(parts.values.map(_._1).sum == all._1, "doc counts compose")
    assert(parts.values.map(_._2).reduce(_ ^ _) == all._2,
      "the corpus version is the XOR of the per-source versions")
    // partitioning invariance: the SAME corpus pushed through a hostile
    // physical layout (13 text-hash partitions, descending within each)
    // and the actual version arithmetic yields the identical version
    val reshuffled = Tables.documents(spark, sf)
      .repartition(13, col("text"))
      .sortWithinPartitions(desc("text"))
    val v2 = graft.ops.TextAnalysis.versionWords(reshuffled)
      .groupBy(col("source"))
      .agg(expr("bit_xor(w)").as("version"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v2 == parts.view.mapValues(_._2).toMap,
      "version is independent of partitioning and evaluation order")
  }

  test("N9 profile drift: metric pairs reconcile with a direct recount") {
    val out = run("dq_profile_drift").collect()
    assert(out.length == 13, "13 (column, metric) rows")
    val ev = Tables.events(spark, sf)
    val nOld = ev.where(col("event_id") % 2 === 0).count().toDouble
    val nNew = ev.where(col("event_id") % 2 === 1).count().toDouble
    val nRows = out.filter(_.getString(1) == "n_rows")
      .map(r => (r.getString(0), r.getDouble(2), r.getDouble(3)))
    assert(nRows.forall { case (_, o, n) => o == nOld && n == nNew },
      "row counts per column match the slice counts")
    // the drift flag is exactly the 10% rule on the reported values
    assert(out.forall { r =>
      val flag = if (math.abs(r.getDouble(3) - r.getDouble(2)) * 10.0 >
        math.abs(r.getDouble(2))) 1 else 0
      r.getInt(4) == flag
    }, "drifted flag recomputes from v_old/v_new")
  }
}
