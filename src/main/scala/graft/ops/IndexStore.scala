package graft.ops

import graft.Tables
import graft.ops.Checkpoints.CutOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquet
import org.apache.spark.sql.functions._

/** Standing vector-search index artifacts (VERDICT r8 #1/#2).
  *
  * Through round 8 every serving query of the IVF/PQ/kNN families re-ran
  * its index build inside the query (~8 s of the 94.5 s bench total across
  * the family) — correct, but a deployment never does that: an index is a
  * STANDING artifact, built once per corpus version and scanned by every
  * query until the corpus changes. This store is that lifecycle: the six
  * artifacts below are built in one pass and persisted as parquet under
  * the warehouse; the serving queries READ them and pay only serve-side
  * cost. `index_build_vecsearch` is the registry entry that owns the build
  * cost (it force-rebuilds and emits the artifact manifest), so the bench
  * accounts the build exactly once.
  *
  * Artifacts (all deterministic — the fixed-point centroid protocol and
  * parquet's bit-exact double round-trip make the stored rows identical to
  * what the inline builds produced, so every serving query's hash is
  * unchanged):
  *
  *   - `ivf_centroids`  (cell, cvec)         — the 10-entry coarse quantizer
  *   - `ivf_assigned`   (vec_id, cell, d)    — the inverted lists (argmax
  *     cell per vector, with its centroid dot for the index audit)
  *   - `pq_codebook`    (s, c, cb)           — 4×16 trained PQ codebooks
  *   - `pq_codes`       (vec_id, s, code, qerr) — per-subvector codes +
  *     quantization error (the audit column)
  *   - `pq_packed`      (vec_id, cds)        — the 4-code word per vector,
  *     the 4-byte serving representation ADC scans read
  *   - `knn_candidates` (a_id, b_id, dot)    — the cell-pruned kNN candidate
  *     relation over the bounded graph slice (vec_id < 500, nprobe = 2),
  *     shared by the six graph/cluster consumers that each rebuilt it
  *   - `knn_candidates_full` (a_id, b_id, dot) — the FULL-corpus top-8
  *     candidate shortlist per vector (no vec_id bound): √n-scaled
  *     sub-cells along each label cell's centroid-dot ranking, ±1-bucket
  *     probing in the argmax cell PLUS a dot-range-mapped ±1 window in
  *     the second-nearest cell (round 12 — recall@8 0.14 → 0.35),
  *     rank-cut at [[KnnFullTopK]] before persist — Θ(n·√n) build work,
  *     8n stored rows, the input of the full-corpus graph analytics
  *     family; see Similarity.knnFullSides
  *
  * Staleness: the store directory is keyed by an md5 fingerprint of the
  * embeddings fixture (file paths + sizes + mtimes, plus a format
  * version) — regenerated fixtures get a fresh key and a fresh build;
  * `_GRAFT_INDEX_OK` (written last) marks a complete build, so a crashed
  * half-build is re-run, never read.
  *
  * 100 TB: the same lifecycle with the warehouse on the object store — the
  * build is the one corpus-sized job (every stage documented on its
  * builder), `ivf_assigned`/`pq_packed` are written bucketed by cell /
  * vec_id, and serving queries broadcast the ≤64-row codebook/centroid
  * relations against map-only scans of the packed artifacts. The local
  * fingerprint key becomes the lake table's snapshot/version id.
  */
object IndexStore {

  /** Bump when artifact schemas/semantics change — stale dirs then miss.
    * v2: + the full-corpus `knn_candidates_full` artifact (declared round
    * 10; builder landed round 11 — the params change re-keyed the store,
    * so any artifact-less v2 leftover is abandoned, never read).
    * v3 (optimization round 16): the BASE snapshot store additionally
    * persists `pq_packed`, so the incremental update packs only the
    * delta's codes and reuses the base packing verbatim (vec_id-disjoint
    * slices ⇒ the merged grouping is the disjoint union of the two
    * groupings). A v2 base store lacks the artifact, so v3 re-keys.
    */
  private val FormatVersion = 3

  val ArtifactNames: Seq[String] = Seq(
    "ivf_centroids", "ivf_assigned", "knn_candidates", "knn_candidates_full",
    "pq_codebook", "pq_codes", "pq_packed")

  /** The bounded slice the `knn_candidates` artifact covers (the
    * M42-family contract bound; see Similarity.knnCandidates), and so the
    * vertex set of the graph keys over it: `graph_pagerank_knn` states it
    * on its vertices and on both edge endpoints, the label keys and
    * `vec_hard_negatives` on their label lookups.
    * `knn_candidates_full` has no bound — it covers the whole corpus with
    * √n-scaled cells (VERDICT r9 #1; see Similarity.knnFullSides).
    */
  private[graft] val KnnBound = 500
  private val KnnNprobe = 2

  /** The rank cut the FULL-corpus artifact persists: the top-K candidate
    * shortlist per vector, not the raw Θ(n·√n) candidate relation. This
    * is what makes the artifact corpus-viable — at 10⁹ vectors the raw
    * relation is ~10¹⁴ rows while the cut is 8n ≈ 10¹⁰ (the build still
    * pays the n·√n dot pass once; only the shortlist is stored). Every
    * consumer cuts at k ≤ 8, so results are unchanged by construction
    * (a rank cut of a rank cut is the inner cut). Bump via params →
    * the store re-keys automatically.
    */
  private[graft] val KnnFullTopK = 8

  /** How many coarse cells each vector probes when the full-corpus
    * shortlist is built: its argmax cell (±1 sub-bucket window along the
    * cell's dot ranking) plus dot-range-mapped ±1 windows in its 2nd..Pth
    * nearest cells. Round 13 moved 2 → 3 (VERDICT r12 #1): the repo's own
    * `vec_ivf_recall_sweep` priced the third probed cell at ~1.5× candidate
    * cost for recall@10 0.40 → 0.52 (sf0.001) / 0.41 → 0.62 (sf1), and the
    * measured shortlist recall@8 moved 0.35 → 0.52 at sf0.001 (see
    * BASELINE.md round 13). Baked into [[vecsearchParams]], so bumping it
    * re-keys every store built with the narrower scheme.
    */
  private[graft] val KnnFullProbeCells = 3

  /** Half-width of the sub-bucket window each probe center scans (center
    * ±W equal-depth buckets, ~√n candidates per bucket). Round 13 moved
    * 1 → 2 together with the third probe cell: the third cell alone
    * measured recall@8 0.41 at sf0.001 — the residual gap to the sweep's
    * whole-cell 0.52 was window coverage (±1 covers 3 of the m=5 buckets
    * per cell at that fixture), and widening the window is the
    * architecture-preserving fix (candidate work stays Θ(n·√n); the
    * alternative, an ADC-prefilter rerank over the whole corpus per query,
    * is Θ(n²) for the self-join shortlist and was rejected). Late round 13
    * moved 2 → 4 after the amplification study (BASELINE.md "probe
    * amplification frontier"): every candidate-amplification scheme
    * measured (second routing table through the 2nd cell, cross-axis
    * re-bucketing of the argmax cell, wider window) sits on the same
    * ~2×-concentration frontier on this near-random fixture — recall ≈ 2 ×
    * scanned fraction — so the window knob, which is frontier-optimal
    * (marginal efficiency 2.05 vs the 2.06 baseline at 20k vectors) and
    * already interpolated into the store key AND the oracle chains, is the
    * right way to buy recall. ±4 covers the m=5 sub-buckets of the sf0.1
    * fixture from any center, moving measured shortlist recall@8 there
    * from 0.39 to 0.50 (50-query harness) at +41% BUILD-time candidate
    * volume and zero serving-cost change; the sf0.001/sf0.01 fixtures
    * (m=3) were already fully covered at ±2, so their artifacts are
    * bit-identical. Baked into [[vecsearchParams]] → any change re-keys
    * the store.
    */
  private[graft] val KnnFullProbeWidth = 4

  /** Parameters baked into the artifacts, folded into the staleness
    * fingerprint (ADVICE r9 #3) so changing any of them invalidates the
    * store automatically instead of relying on a FormatVersion bump:
    * kNN slice bound + nprobe, the 4×16 PQ shape, the full-corpus
    * candidate relation's sub-quantization rule (m = ⌈√n/10⌉ equal-depth
    * sub-buckets per cell, probe width ±1), and the media family's band
    * layout + Hamming cut.
    */
  private def vecsearchParams: String =
    // full-chain tag: √n/10 equal-depth sub-buckets, ±1 window, probe-cell
    // count interpolated (round 13 — "c3" re-keys every store built with
    // the two-cell round-12 scheme, exactly like "c2" re-keyed round 11's)
    s"b$KnnBound|p$KnnNprobe|pq4x16|fullsqrt10w${KnnFullProbeWidth}c${KnnFullProbeCells}k$KnnFullTopK"
  private def mediaParams: String = "bands4x15|ham10"

  private def rootDir: String =
    sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
      new java.io.File("spark-warehouse/graft_index").getAbsolutePath)

  /** One standing store of one fixture: the directory `prefix` + `key`
    * under the store root, complete once its `_GRAFT_INDEX_OK` marker
    * holds `key` (the marker is written last, so a crashed half-build is
    * re-run, never read), and published by the atomic swap of
    * [[publish]]. The key is the corpus-version fingerprint of the
    * fixture table (file paths + sizes + mtimes + format version + family
    * tag + baked-in build parameters, md5'd).
    */
  private final case class Store(sfDir: String, prefix: String, table: String,
      family: String, params: String) {
    val key: String = {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(sfDir, s"$table.parquet")
      val files: Seq[java.nio.file.Path] =
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.list(p)
          try s.iterator().asScala.toList.sortBy(_.toString) finally s.close()
        } else List(p)
      val desc = files.map { f =>
        s"$f:${java.nio.file.Files.size(f)}:${java.nio.file.Files.getLastModifiedTime(f).toMillis}"
      }.mkString("|")
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$family|v$FormatVersion|$params|$desc".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
    }
    def dir: String = s"$rootDir/$prefix$key"
  }

  private def vecsearch(sfDir: String) =
    Store(sfDir, "", "embeddings", "vecsearch", vecsearchParams)
  private def media(sfDir: String) =
    Store(sfDir, "media_", "documents", "mediasig", mediaParams)
  private def mediaBase(sfDir: String) =
    Store(sfDir, "mediabase_", "documents", "mediabase", mediaParams)
  private def vecBase(sfDir: String) =
    Store(sfDir, "vecbase_", "embeddings", "vecbase", vecsearchParams)
  // the updated stores are keyed by (base fingerprint, delta predicate): a
  // changed base store or a different delta definition each invalidate them
  private def mediaUpd(sfDir: String) = Store(sfDir, "mediaupd_", "documents",
    s"mediaupd|${mediaBase(sfDir).key}|$DeltaPred", mediaParams)
  private def vecUpd(sfDir: String) = Store(sfDir, "vecupd_", "embeddings",
    s"vecupd|${vecBase(sfDir).key}|$VecDeltaPred", vecsearchParams)

  def indexDir(sfDir: String): String = vecsearch(sfDir).dir
  def mediaDir(sfDir: String): String = media(sfDir).dir
  def mediaBaseDir(sfDir: String): String = mediaBase(sfDir).dir
  def mediaUpdDir(sfDir: String): String = mediaUpd(sfDir).dir
  def vecBaseDir(sfDir: String): String = vecBase(sfDir).dir
  def vecUpdDir(sfDir: String): String = vecUpd(sfDir).dir

  private def marker(dir: String) =
    java.nio.file.Paths.get(dir, "_GRAFT_INDEX_OK")

  /** The store's directory, built first if this corpus version has no
    * complete build yet (build-on-first-use keeps every query a pure
    * function of (session, sfDir)).
    */
  private def ensure(store: Store)(build: String => Unit): String = synchronized {
    if (!java.nio.file.Files.exists(marker(store.dir)))
      publishStore(store, force = false)(build)
    store.dir
  }

  /** Force a fresh build of the store: the path of the `index_*` query that
    * owns the store's build cost, so the bench measures it there, once,
    * instead of inside every serving query.
    */
  private def republish(store: Store)(build: String => Unit): String = synchronized {
    publishStore(store, force = true)(build)
    store.dir
  }

  /** [[publish]] `build`'s artifacts with the store's marker written last. */
  private def publishStore(store: Store, force: Boolean)(build: String => Unit): Unit =
    publish(store.dir, force) { tmp =>
      build(tmp)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
      java.nio.file.Files.write(marker(tmp), store.key.getBytes("UTF-8"))
    }

  /** Read one artifact of the vector store, building the store first if
    * needed. Every store read opens its artifact with [[GraftParquet.read]]:
    * the schema comes from one footer read on the driver, so an open runs
    * no Spark job.
    */
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    GraftParquet.read(spark, s"${ensure(spark, sfDir)}/$name")

  /** The vector store's directory for this corpus version, built if absent. */
  def ensure(spark: SparkSession, sfDir: String): String =
    ensure(vecsearch(sfDir))(writeVecsearch(spark, sfDir))

  /** Write one artifact. While it is written, the Spark job description
    * is the artifact's name, so every SparkListener can tell which jobs
    * wrote which artifact; the caller's description is restored after.
    */
  private def write(df: DataFrame, path: String): Unit = {
    val sc = df.sparkSession.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(path.substring(path.lastIndexOf('/') + 1))
    try df.write.mode("overwrite").parquet(path)
    finally sc.setJobDescription(caller)
  }

  /** Run independent artifact lanes as concurrent Spark jobs (guide-§2.6
    * overlap: actions are only sequential because driver code calls them
    * sequentially; a build whose artifact DAG has independent branches
    * should let the tail of one branch's stages back-fill the cores the
    * other branch is not using). Every lane runs to its end before this
    * returns, so a failed build never leaves a lane writing into a
    * directory its caller is deleting; the first failure is rethrown
    * unwrapped, with later ones attached as suppressed. A single-element
    * list degenerates to a plain call — no pool.
    */
  private[graft] def inParallel(tasks: Seq[() => Unit]): Unit =
    if (tasks.size <= 1) tasks.foreach(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
      try {
        val futs = tasks.map { t =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = t()
          })
        }
        val failures = futs.flatMap { f =>
          try { f.get(); None }
          catch {
            case e: java.util.concurrent.ExecutionException =>
              Some(Option(e.getCause).getOrElse(e))
          }
        }
        failures.headOption.foreach { first =>
          failures.tail.foreach(first.addSuppressed)
          throw first
        }
      } finally pool.shutdown()
    }

  /** The artifact manifest (artifact, n_rows), each count summed from the
    * parquet footers of the artifact's written data files on the driver.
    * It is still a read-back of what the build wrote, but it runs no
    * Spark job: a `count()` job per artifact would be almost pure
    * scheduling overhead at these sizes. The rows are sorted by artifact
    * name on the driver, so the two-to-nine-row frame needs no sort.
    */
  private def manifest(spark: SparkSession, dir: String,
      names: Seq[String]): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    names.sorted.map(n => (n, footerRows(s"$dir/$n", conf)))
      .toDF("artifact", "n_rows")
  }

  /** Total row count of a written parquet artifact directory, from the
    * row-group metadata in its data files' footers.
    */
  private[graft] def footerRows(dir: String,
      conf: org.apache.hadoop.conf.Configuration): Long = {
    import scala.jdk.CollectionConverters._
    dataFiles(dir).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      finally r.close()
    }.sum
  }

  /** The data files of a written parquet artifact directory: every entry
    * but the `_`/`.`-prefixed bookkeeping files (`_SUCCESS`, `.crc`).
    */
  private def dataFiles(dir: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.filterNot { f =>
      val name = f.getFileName.toString
      name.startsWith("_") || name.startsWith(".")
    }.toList
    finally s.close()
  }

  /** Link every data file of a published parquet artifact into `dstDir`
    * under a `tag-` prefix — the lake-table "append the unchanged
    * partitions" emulation (VERDICT r15 #2): an incremental update's
    * merged artifact whose base slice is provably unchanged (disjoint
    * key ranges, per-row pure functions of frozen quantizers) is the
    * base's files PLUS the delta's files, not a corpus-sized rewrite. A
    * parquet directory is exactly its set of data files, so the linked
    * directory IS the union relation, row for row. Hard links where the
    * filesystem allows (same volume here — the store root), byte copy as
    * the fallback; `_`/`.`-prefixed bookkeeping files are skipped, and
    * the tag prefix makes collisions with Spark-written part files
    * impossible. Deleting a source store later only unlinks names —
    * the shared inodes survive until every reference is gone.
    */
  private def linkParts(srcDir: String, dstDir: String, tag: String): Unit = {
    val dst = java.nio.file.Paths.get(dstDir)
    java.nio.file.Files.createDirectories(dst)
    dataFiles(srcDir).foreach { f =>
      val to = dst.resolve(s"$tag-${f.getFileName}")
      try java.nio.file.Files.createLink(to, f)
      catch {
        case _: UnsupportedOperationException |
             _: java.nio.file.FileSystemException =>
          java.nio.file.Files.copy(f, to,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  /** Pack per-subvector codes into the 4-code serving word per vector —
    * shared by the full build and the incremental update's merged store.
    */
  private def packCodes(codes: DataFrame): DataFrame =
    codes.groupBy(col("vec_id"))
      .agg(expr("transform(array_sort(collect_list(struct(s, code))), x -> x.code)")
        .as("cds"))

  /** Total data-file bytes of a written parquet artifact directory — the
    * O(1) size probe the update's broadcast-vs-repartition gate reads
    * (the lake-table analogue is the snapshot manifest's size column).
    */
  private def dirBytes(dir: String): Long =
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir))) 0L
    else dataFiles(dir).map(java.nio.file.Files.size).sum

  private def rm(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p)) {
      val s = java.nio.file.Files.list(p)
      try { s.iterator().forEachRemaining(rm) } finally s.close()
    }
    java.nio.file.Files.deleteIfExists(p)
  }

  /** Crash/concurrency-safe publish: build into a process-unique temp
    * sibling (marker written last, inside the temp), then atomically
    * rename into place. `synchronized` only excludes threads of THIS
    * JVM; a bench/Verify pair sharing the store dir would otherwise
    * interleave overwrite-mode writes and could leave a torn directory
    * that carries the completion marker. With the rename, a directory
    * bearing the marker is always one complete build: if another
    * process won the race (destination already complete), this build's
    * temp is discarded and the winner's artifacts are served.
    *
    * Replacement is SWAP, not delete-then-move (ADVICE r9 #1): the old
    * delete-then-move force path removed the live store before the
    * rename, so a concurrent reader could hit FileNotFoundException
    * mid-scan, and its rm+move fallback could still throw ENOTEMPTY if a
    * racer republished between the two calls. Now the live directory is
    * atomically renamed ASIDE to a `.trash-` sibling (readers that
    * already resolved file paths keep reading the renamed inode — POSIX
    * rename never invalidates open handles), the temp is atomically
    * moved into place, and only then is the trash deleted; a loser in a
    * republish race retries the whole swap a bounded number of times.
    * A `.trash-`/`.build-` leftover from a crash mid-swap is never
    * served (the serve path resolves only the exact fingerprint dir and
    * requires the marker).
    *
    * A build that throws leaves nothing behind: its temp is deleted and
    * the exception propagates; the live store is untouched.
    *
    * Package-visible as the test seam for the cross-process race spec
    * (VERDICT r9 #3): Round10Spec drives the complete-winner-keeps,
    * torn-leftover-replaced, force-swap, and bounded-give-up-restore
    * branches directly with filesystem fixtures, and IndexPublishSpec the
    * failed-build cleanup.
    */
  private[graft] def publish(dir: String, force: Boolean)(doBuild: String => Unit): Unit = {
    val pidTag =
      java.lang.ProcessHandle.current().pid() + "-" + java.lang.System.nanoTime()
    val tmp = java.nio.file.Paths.get(dir + ".build-" + pidTag)
    try doBuild(tmp.toString)
    catch {
      case e: Throwable =>
        // a failed build's temp is never published: drop it, so no
        // half-written `.build-` sibling stays under the store root
        try rm(tmp) catch { case r: java.io.IOException => e.addSuppressed(r) }
        throw e
    }
    val dst = java.nio.file.Paths.get(dir)
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      if (!force && java.nio.file.Files.exists(marker(dir))) {
        // a complete winner is already in place: discard this build
        rm(tmp)
        done = true
      } else {
        // swap: move any current dst aside (atomic, so readers never see
        // a half-deleted store), move the temp in, then drop the trash
        val trash = java.nio.file.Paths.get(dir + ".trash-" + pidTag + "-" + attempt)
        try {
          if (java.nio.file.Files.exists(dst))
            java.nio.file.Files.move(dst, trash,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } catch {
          // a racer moved/replaced dst between exists() and move(): fall
          // through — the move-into-place below (or the next attempt's
          // marker re-check) resolves the new state
          case _: java.nio.file.FileSystemException => ()
        }
        try {
          java.nio.file.Files.move(tmp, dst,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          rm(trash)
          done = true
        } catch {
          case e: java.nio.file.FileSystemException =>
            // ADVICE r10 #4: only discard the aside copy when dst is a
            // complete store again (a racer republished); otherwise put
            // the previous live store BACK, so a persistent failure (and
            // the eventual give-up throw below) never leaves readers
            // facing a missing directory where a complete store had been
            if (java.nio.file.Files.exists(marker(dir))) rm(trash)
            else if (java.nio.file.Files.exists(trash)) {
              try java.nio.file.Files.move(trash, dst,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              catch {
                case e2: java.nio.file.FileSystemException =>
                  // ADVICE r11 #4: a swallowed restore failure on the
                  // give-up path would leave readers facing a missing
                  // directory with no trace — surface it so operators
                  // learn the live store could not be put back, instead
                  // of discovering the hole at serve time
                  if (attempt >= 5) Console.err.println(
                    s"graft IndexStore: could not restore live store $dir " +
                      s"from $trash after failed publish: $e2")
              }
            }
            if (attempt >= 5) { rm(tmp); throw e }
          // else: a racer republished dst first — loop re-checks the
          // marker (non-force keeps the winner; force swaps it out again)
        }
      }
    }
  }

  /** The IVF chain: the coarse quantizer, then the inverted lists
    * computed against the STORED centroids (read back, so the persisted
    * assignment provably derives from the persisted quantizer — the same
    * read path queries use). Returns the stored centroids, collected once
    * for every ranking the build runs against them, the stored
    * assignment, and its row count from the parquet footers.
    */
  private def writeIvf(e: DataFrame, dir: String)
      : (Similarity.Quantizer, DataFrame, Long) = {
    val spark = e.sparkSession
    write(Similarity.centroidsBuild(e), s"$dir/ivf_centroids")
    val cents = Similarity.centCollect(GraftParquet.read(spark, s"$dir/ivf_centroids"))
    write(Similarity.ivfAssignBuild(e, cents), s"$dir/ivf_assigned")
    (cents, GraftParquet.read(spark, s"$dir/ivf_assigned"),
      footerRows(s"$dir/ivf_assigned", spark.sparkContext.hadoopConfiguration))
  }

  /** The PQ chain: trained codebooks, per-subvector codes, and the packed
    * serving words computed from the STORED codes.
    */
  private def writePq(e: DataFrame, dir: String): Unit = {
    val (codebook, codes) = Similarity.pqIndex(e)
    write(codebook, s"$dir/pq_codebook")
    write(codes.select(col("vec_id"), col("s"), col("code"), col("qerr")),
      s"$dir/pq_codes")
    write(packCodes(GraftParquet.read(e.sparkSession, s"$dir/pq_codes")),
      s"$dir/pq_packed")
  }

  /** The media chain: signatures, then pairs computed against the STORED
    * signatures — the persisted pair relation provably derives from the
    * persisted signature artifact.
    */
  private def writeMedia(docs: DataFrame, dir: String): Unit = {
    write(Multimodal.phashSignatures(docs), s"$dir/media_sigs")
    write(Multimodal.phashPairs(GraftParquet.read(docs.sparkSession, s"$dir/media_sigs")),
      s"$dir/media_pairs")
  }

  /** The seven-artifact build, as THREE independent lanes run as
    * concurrent jobs (optimization round 16, guide §2.6: the artifact DAG
    * has no edge between the IVF chain, the PQ chain, and the bounded kNN
    * slice, so serializing them left most cores idle during each lane's
    * small-stage tails — measured 7.1 s warm → the lanes overlap the
    * ~2 s shortlist candidate join with the whole PQ chain). Within each
    * lane the read-back discipline is unchanged: every derived artifact
    * is computed from the STORED form of its input.
    */
  private def writeVecsearch(spark: SparkSession, sfDir: String)(dir: String): Unit = {
    val e = Tables.embeddings(spark, sfDir)
    inParallel(Seq(
      // lane 1 — IVF, then the FULL-corpus candidate relation (VERDICT r9
      // #1): √n-scaled sub-cells over the STORED inverted lists. Persisted
      // as the top-K shortlist per vector (see [[KnnFullTopK]]): the raw
      // candidate relation is build-time-only working set.
      () => {
        val (cents, storedAssigned, n) = writeIvf(e, dir)
        write(Similarity.knnShortlistFull(e, storedAssigned, cents,
          Similarity.subBuckets(n), KnnFullTopK), s"$dir/knn_candidates_full")
      },
      // lane 2 — PQ: trained codebooks + per-subvector codes + packed words
      () => writePq(e, dir),
      // lane 3 — the kNN candidate relation over the bounded graph slice
      () => {
        val eb = e.where(col("vec_id") < KnnBound)
          .select(col("vec_id"), col("embedding"), col("label"))
        write(Similarity.knnCandidates(eb, KnnNprobe), s"$dir/knn_candidates")
      }))
  }

  /** The `index_build_vecsearch` query: force-rebuild the store for this
    * corpus and emit the artifact manifest (name + row count, read back
    * from the written parquet — the honest "what did the build produce").
    * Row counts are pure functions of the corpus (n vectors, 10 labels,
    * 64 codebook entries, 4 codes/vector, the deterministic candidate
    * count), so the DuckDB oracle checks them without replicating the
    * write path.
    */
  def indexBuildVecsearch(spark: SparkSession, sfDir: String): DataFrame =
    manifest(spark, republish(vecsearch(sfDir))(writeVecsearch(spark, sfDir)),
      ArtifactNames)

  // ---- media family (round 9): block-SimHash signatures + near-dup pairs

  /** The media near-dup index: the same standing-artifact lifecycle for
    * the block-SimHash family, keyed by the DOCUMENTS fixture (the media
    * corpus) rather than embeddings. Two artifacts:
    *
    *   - `media_sigs`  (doc_id, sig)            — the 60-bit block-SimHash
    *     signature per non-empty payload ([[Multimodal.phashSignatures]])
    *   - `media_pairs` (a_id, b_id, hamming)    — the 4×15-band candidate
    *     join cut at Hamming ≤ 10 and distinct'd — the pair relation BOTH
    *     `mm_phash_hamming` (report) and `mm_phash_clusters` (star-loop
    *     clustering) previously rebuilt per query
    *
    * Signatures and pairs are integer-typed (LONG/INT), so the parquet
    * round-trip is bit-exact and serving hashes are unchanged. At 100 TB
    * the signature pass is the one corpus-sized job (per-band keyed
    * shuffles, never all-pairs); re-signing only changed payloads is the
    * natural incremental extension (fingerprint key → lake snapshot id).
    */
  val MediaArtifactNames: Seq[String] = Seq("media_pairs", "media_sigs")

  def readMedia(spark: SparkSession, sfDir: String, name: String): DataFrame =
    GraftParquet.read(spark, s"${ensureMedia(spark, sfDir)}/$name")

  def ensureMedia(spark: SparkSession, sfDir: String): String =
    ensure(media(sfDir))(writeMedia(Tables.documents(spark, sfDir), _))

  /** The `index_build_mediasig` query: force-rebuild the media index and
    * emit the artifact manifest. Row counts are pure corpus functions
    * (signatures = non-empty payloads; pairs = the deterministic banded
    * ≤10-bit candidate count), so the DuckDB oracle checks the build by
    * replicating the ALGORITHM (the shared phash CTE chain), not the
    * parquet write path.
    */
  def indexBuildMediasig(spark: SparkSession, sfDir: String): DataFrame =
    manifest(spark,
      republish(media(sfDir))(writeMedia(Tables.documents(spark, sfDir), _)),
      MediaArtifactNames)

  // ---- incremental media maintenance (round 11, VERDICT r9 #2)

  /** The incremental update's artifact set: the merged serving relations
    * plus the delta relations the update actually computed (persisted so
    * the manifest — and the oracle — can check the incremental work
    * itself, not just the merged result).
    */
  val MediaUpdateArtifactNames: Seq[String] =
    Seq("media_pairs", "media_pairs_delta", "media_sigs", "media_sigs_delta")

  /** The simulated corpus split for the incremental lifecycle: the BASE
    * corpus version is every document with `doc_id % 10 != 0`; the DELTA
    * (new/changed payloads in the next corpus version) is the remaining
    * 10%. A static fixture can't mutate, so the split plays the role of
    * two snapshot ids; at 100 TB the delta set is the lake table's
    * changed-file manifest between snapshots.
    *
    * Package-visible (ADVICE r11 #1): the oracle interpolates this into
    * the `index_update_mediasig` SQL (via [[deltaPredOn]]) so changing the
    * delta definition can never silently diverge engine and oracle.
    */
  private[graft] val DeltaPred = "doc_id % 10 = 0"

  /** [[DeltaPred]] rewritten onto another id column (the oracle's pair
    * predicates test a_id/b_id membership in the delta slice).
    */
  private[graft] def deltaPredOn(column: String): String =
    DeltaPred.replace("doc_id", column)

  /** The standing BASE-version media store (signatures + pairs over the
    * base corpus slice), built once per corpus version — the state an
    * incremental update starts from.
    */
  def ensureMediaBase(spark: SparkSession, sfDir: String): String =
    ensure(mediaBase(sfDir))(
      writeMedia(Tables.documents(spark, sfDir).where(s"NOT ($DeltaPred)"), _))

  /** The `index_update_mediasig` query (VERDICT r9 #2): DELTA-build the
    * media index instead of rebuilding from scratch. Only the changed
    * payloads are re-signed (one pass over the 10% delta slice, not the
    * corpus); the new pair relation is the banded join of the DELTA
    * signatures against the merged signature set (every pair touching a
    * changed document — band collision and the Hamming cut depend only on
    * the two signatures, and a signature depends only on its own payload,
    * so base×base pairs are provably unchanged and are reused verbatim).
    * The merged artifacts are row-identical to a full rebuild
    * (Round11Spec asserts set equality artifact by artifact); the oracle
    * checks all four manifest counts against the full-corpus phash chain.
    *
    * 100 TB: this is the economics that make a standing index viable —
    * update cost tracks |delta|·(corpus band density), not |corpus|;
    * the base store is read, never recomputed.
    */
  def indexUpdateMediasig(spark: SparkSession, sfDir: String): DataFrame = {
    val baseDir = ensureMediaBase(spark, sfDir)
    // force: the query owns the delta-build cost (the bench measures it
    // here, once, like the other index_build_* entries)
    // Optimization round 16: the merged artifacts are file LINKS of their
    // provably-disjoint slices (a signature is a pure function of its own
    // payload and the doc_id slices are disjoint; base×base pairs touch no
    // delta doc while every delta pair touches ≥ 1), not corpus-sized
    // Spark rewrites — the same lake-append economics as the vector store.
    val updDir = republish(mediaUpd(sfDir)) { tmp =>
      val delta = Tables.documents(spark, sfDir).where(DeltaPred)
      write(Multimodal.phashSignatures(delta), s"$tmp/media_sigs_delta")
      val deltaSigs = GraftParquet.read(spark, s"$tmp/media_sigs_delta")
      linkParts(s"$baseDir/media_sigs", s"$tmp/media_sigs", "base")
      linkParts(s"$tmp/media_sigs_delta", s"$tmp/media_sigs", "delta")
      val mergedSigs = GraftParquet.read(spark, s"$tmp/media_sigs")
      write(Multimodal.phashPairsDelta(deltaSigs, mergedSigs),
        s"$tmp/media_pairs_delta")
      linkParts(s"$baseDir/media_pairs", s"$tmp/media_pairs", "base")
      linkParts(s"$tmp/media_pairs_delta", s"$tmp/media_pairs", "delta")
    }
    manifest(spark, updDir, MediaUpdateArtifactNames)
  }

  // ---- incremental VECSEARCH maintenance (round 12, VERDICT r11 #2)

  /** The simulated corpus split for the vector-index lifecycle, mirroring
    * [[DeltaPred]] on the embeddings fixture: BASE = `vec_id % 10 != 0`,
    * DELTA = the remaining 10%. Package-visible so the oracle interpolates
    * it (the ADVICE r11 #1 discipline — engine and oracle can never
    * silently diverge on the delta definition).
    */
  private[graft] val VecDeltaPred = "vec_id % 10 = 0"

  /** [[VecDeltaPred]] rewritten onto another id column (the oracle's pair
    * predicates test a_id/b_id membership in the delta slice).
    */
  private[graft] def vecDeltaPredOn(column: String): String =
    VecDeltaPred.replace("vec_id", column)

  /** The BASE-snapshot vector store's artifacts: the standard six-family
    * build on the base slice PLUS the two maintenance-facing routing
    * relations a delta update joins against —
    *
    *   - `knn_routing` (vec_id, cell, d, bucket) — the base corpus's
    *     equal-depth sub-bucket membership (the candidate join's
    *     membership side, and the source of the boundary relation)
    *   - `knn_probes_alt` (vec_id, cell, bucket) — each base vector's
    *     NON-ARGMAX probe centers (cell ranks 2..[[KnnFullProbeCells]]),
    *     dot-range-mapped at base-build time (named `knn_probes2` while
    *     the scheme probed only the second cell, rounds 12 and earlier)
    *
    * Persisting these is what makes the update incremental: bucket
    * boundaries are FROZEN at the base snapshot (delta vectors map into
    * them by dot range — the same mapping the second-cell probe already
    * uses), so base vectors never re-rank and base×base candidate work is
    * never repeated. The bounded `knn_candidates` demo slice is not part
    * of the maintained family (it serves from the main per-corpus store).
    */
  val VecBaseArtifactNames: Seq[String] = Seq(
    "ivf_assigned", "ivf_centroids", "knn_candidates_full", "knn_probes_alt",
    "knn_routing", "pq_codebook", "pq_codes", "pq_packed")

  /** The incremental update's manifest: the merged serving relations plus
    * the delta relations the update actually computed (persisted so the
    * manifest — and the oracle — checks the incremental work itself).
    */
  val VecUpdateArtifactNames: Seq[String] = Seq(
    "ivf_assigned", "ivf_assigned_delta", "ivf_centroids",
    "knn_candidates_full", "knn_pairs_delta", "pq_codebook", "pq_codes",
    "pq_codes_delta", "pq_packed")

  /** The standing BASE-snapshot vector store (quantizer, inverted lists,
    * PQ codebook/codes, kNN shortlist, and the frozen routing relations),
    * built once per corpus version — the state an incremental update
    * starts from. Every trained component (centroids, codebook, bucket
    * boundaries) derives from the BASE slice only, exactly as a deployed
    * index is trained on the snapshot it was built at.
    */
  def ensureVecBase(spark: SparkSession, sfDir: String): String =
    ensure(vecBase(sfDir)) { tmp =>
      val base = Tables.embeddings(spark, sfDir).where(s"NOT ($VecDeltaPred)")
      val (cents, storedAssigned, n) = writeIvf(base, tmp)
      // packed serving words over the base slice (v3): the incremental
      // update links these verbatim and packs only the delta's codes —
      // base and delta vec_ids are disjoint, so the merged grouping is
      // exactly the disjoint union of the two groupings
      writePq(base, tmp)
      // the frozen routing relations (see VecBaseArtifactNames)
      write(Similarity.knnRouting(storedAssigned, Similarity.subBuckets(n)),
        s"$tmp/knn_routing")
      val routing = GraftParquet.read(spark, s"$tmp/knn_routing")
      write(Similarity.mapByBounds(Similarity.probeCells(base, cents),
        Similarity.knnBounds(routing)), s"$tmp/knn_probes_alt")
      // base shortlist — built FROM the persisted routing relations
      // (probes = routing ∪ alt-cell centers, membership = routing),
      // so "the shortlist derives from the frozen routing artifacts"
      // holds by construction, and the routing/bounds/second-cell
      // passes are not recomputed. Same candidate set and dots as the
      // standard full-corpus candidate join on the base slice
      // (Round12Spec's from-scratch comparison pins it).
      val baseMemB = routing.select(col("vec_id"), col("cell"), col("bucket"))
      val probes2B = GraftParquet.read(spark, s"$tmp/knn_probes_alt")
      // the frozen routing's own sub-bucket count, read back from the
      // artifact (one O(1) max action) — sizes the probe-window clip
      val mBase = routing.agg(max(col("bucket"))).head.getLong(0) + 1L
      write(Similarity.knnShortlistCut(
          Similarity.knnKeyedDots(base,
            baseMemB.unionByName(probes2B), baseMemB, mBase),
          KnnFullTopK),
        s"$tmp/knn_candidates_full")
    }

  /** Read one artifact of the BASE-snapshot vector store, building the
    * store first if needed.
    */
  def readVecBase(spark: SparkSession, sfDir: String, name: String): DataFrame =
    GraftParquet.read(spark, s"${ensureVecBase(spark, sfDir)}/$name")

  /** The `index_update_vecsearch` query (round 12, VERDICT r11 #2):
    * DELTA-build the 7-artifact vector store instead of rebuilding from
    * scratch — the `index_update_mediasig` lifecycle applied to the
    * trained-quantizer family:
    *
    *   - quantizer + codebook: REUSED verbatim from the base snapshot
    *     (production IVF-PQ never retrains on add; a quality-driven
    *     retrain is a rebuild, not an update)
    *   - inverted lists / PQ codes / packed words: only the delta slice is
    *     assigned + encoded (one pass over the 10%, against the broadcast
    *     base quantizers); merged = base ∪ delta by construction, because
    *     assignment and encoding are per-vector pure functions of the
    *     frozen quantizers
    *   - kNN shortlist: the delta band — delta probes (own + alt cells,
    *     all dot-range-mapped into the FROZEN base bucket boundaries) ×
    *     full membership, plus base probe centers × delta membership
    *     (pairs an existing vector gains toward a new one). The two sides
    *     are disjoint on a_id, so each directed pair is produced at most
    *     once. Merged shortlist = top-K of (base shortlist ∪ delta band)
    *     per vector — row-identical to a from-scratch build under the
    *     same frozen routing because top-k of a union equals top-k of
    *     (top-k of one side ∪ the other side), and base×base candidates
    *     are exactly the base build's candidate set (Round12Spec pins
    *     this artifact by artifact).
    *
    * 100 TB economics: the DOT work — the build's only superlinear term —
    * tracks the delta band (|delta|·√n-ish), never n·√n; the base side
    * contributes one skinny (3-long) probe-key pass that joins against
    * the broadcast-small delta membership, and the base shortlist is
    * read, never recomputed. Update cost tracks |delta|, rebuild cost
    * tracks |corpus| — the economics that make a standing index viable.
    */
  def indexUpdateVecsearch(spark: SparkSession, sfDir: String): DataFrame = {
    val baseDir = ensureVecBase(spark, sfDir)
    // force: the query owns the delta-build cost (the bench measures it
    // here, once, like the other index_build_* entries)
    // Optimization round 16 — three structural changes, same artifact rows:
    //   1. the frozen quantizers and every merged artifact whose base
    //      slice is provably unchanged (assignment/encoding/packing are
    //      per-vector pure functions of the frozen quantizers, and base ∪
    //      delta vec_ids are disjoint) are LINKED from the base store's
    //      files instead of rewritten through Spark — the lake "append the
    //      changed partitions" economics VERDICT r15 #2 asked for;
    //   2. the IVF→kNN chain and the PQ chain are independent lanes run as
    //      concurrent jobs (guide §2.6);
    //   3. pq_packed packs ONLY the delta's codes (base packing linked,
    //      see [[VecBaseArtifactNames]] v3).
    // Update cost now tracks |delta| in WRITES too, not just in compute.
    val updDir = republish(vecUpd(sfDir)) { tmp =>
      val e = Tables.embeddings(spark, sfDir)
      val delta = e.where(VecDeltaPred)
      val cent = GraftParquet.read(spark, s"$baseDir/ivf_centroids")
      linkParts(s"$baseDir/ivf_centroids", s"$tmp/ivf_centroids", "base")
      val cb = GraftParquet.read(spark, s"$baseDir/pq_codebook")
      linkParts(s"$baseDir/pq_codebook", s"$tmp/pq_codebook", "base")
      inParallel(Seq(
        // lane 1 — delta assignment, merged inverted lists, the shortlist
        // delta band against the FROZEN base routing, merged shortlist
        () => {
          // the frozen quantizer, collected once for both delta rankings
          val cents = Similarity.centCollect(cent)
          write(Similarity.ivfAssignBuild(delta, cents),
            s"$tmp/ivf_assigned_delta")
          val deltaAsg = GraftParquet.read(spark, s"$tmp/ivf_assigned_delta")
          linkParts(s"$baseDir/ivf_assigned", s"$tmp/ivf_assigned", "base")
          linkParts(s"$tmp/ivf_assigned_delta", s"$tmp/ivf_assigned", "delta")
          val routing = GraftParquet.read(spark, s"$baseDir/knn_routing")
          val baseMem = routing.select(col("vec_id"), col("cell"), col("bucket"))
          val baseProbes2 = GraftParquet.read(spark, s"$baseDir/knn_probes_alt")
          val bounds = Similarity.knnBounds(routing)
          val deltaOwn = Similarity.mapByBounds(deltaAsg, bounds)
            .lineageCut(false) // probe side, membership side, and the B band read it
          val deltaSec = Similarity.mapByBounds(
            Similarity.probeCells(delta, cents), bounds)
          // Broadcast the |delta|-proportional side of each band when the
          // MEASURED delta artifact is broadcast-small (optimization round
          // 17, guide §3.1): band A's probe side and band B's membership
          // side are both delta-derived, so each band becomes a map-side
          // hash join over its corpus-sized side — four pinned repartition
          // exchanges and two sort-merge sorts gone. The gate is the
          // on-disk byte size of the just-written delta assignment times a
          // 64× decompress/explode headroom against the session broadcast
          // threshold; a corpus-scale delta keeps the repartition form.
          val deltaSmall = dirBytes(s"$tmp/ivf_assigned_delta") * 64 <
            spark.sessionState.conf.autoBroadcastJoinThreshold
          val bandA = Similarity.knnPairIds(
            deltaOwn.unionByName(deltaSec), baseMem.unionByName(deltaOwn),
            if (deltaSmall) "probes" else "none")
          val bandB = Similarity.knnPairIds(
            baseMem.unionByName(baseProbes2), deltaOwn,
            if (deltaSmall) "membership" else "none")
          write(Similarity.dotPairs(e, bandA.unionByName(bandB)),
            s"$tmp/knn_pairs_delta")
          val deltaPairs = GraftParquet.read(spark, s"$tmp/knn_pairs_delta")
          val baseShort = GraftParquet.read(spark, s"$baseDir/knn_candidates_full")
          write(Similarity.topPerQuery(baseShort.unionByName(deltaPairs),
              desc("dot"), KnnFullTopK).drop("rn"),
            s"$tmp/knn_candidates_full")
        },
        // lane 2 — delta encode, merged codes, delta-only packed words
        () => {
          write(Similarity.pqEncodeAgainst(delta, cb), s"$tmp/pq_codes_delta")
          val deltaCodes = GraftParquet.read(spark, s"$tmp/pq_codes_delta")
          linkParts(s"$baseDir/pq_codes", s"$tmp/pq_codes", "base")
          linkParts(s"$tmp/pq_codes_delta", s"$tmp/pq_codes", "delta")
          write(packCodes(deltaCodes), s"$tmp/pq_packed")
          linkParts(s"$baseDir/pq_packed", s"$tmp/pq_packed", "base")
        }))
    }
    manifest(spark, updDir, VecUpdateArtifactNames)
  }
}
