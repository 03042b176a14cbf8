package graft.queries

import graft.functions.TextFunctions._
import graft.util.Materialize
import graft.util.Materialize.releaseAfter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Near-duplicate detection over `documents` — the training-data-pipeline
  * dedup suite (BASELINE.json north star).
  *
  * Scale design: both pair-generators avoid the O(N²) all-pairs join.
  *  - [[jaccardPairs]] builds a distributed inverted index
  *    (shingle → docs) and only pairs docs sharing a shingle — the
  *    standard exact algorithm; shuffle is bounded by total shingle
  *    occurrences, and a document-frequency cap can drop stop-shingles at
  *    higher scale.
  *  - [[minhashLsh]] generates candidates by LSH banding (docs sharing
  *    any of 16 bands of a 64-hash MinHash signature), then verifies with
  *    exact Jaccard — the sub-quadratic scale path; candidate volume is
  *    tunable via (bands, rowsPerBand) for the target similarity.
  */
object Dedup {

  private val N = 3 // word-3-gram shingles
  private val NumHashes = 64
  private val Bands = 16
  private val RowsPerBand = 4
  private val Threshold = 0.8

  /** i-th derived hash g_i = h1 XOR rot_i(h2) — overflow-free under ANSI
    * mode (the Kirsch-Mitzenmacher h1 + i·h2 form throws
    * ARITHMETIC_OVERFLOW in Spark 4's default ANSI arithmetic).
    */
  def derivedHash(h1: org.apache.spark.sql.Column,
      h2: org.apache.spark.sql.Column, i: Int): org.apache.spark.sql.Column =
    if (i == 0) h1.bitwiseXOR(h2)
    else h1.bitwiseXOR(
      shiftleft(h2, i).bitwiseOR(shiftrightunsigned(h2, 64 - i)))

  /** documents + shingle arrays. The scan is a single small file locally
    * (one input split → one task), but shingling is CPU-bound per row —
    * fan out to the full core count before the heavy projection, exactly
    * as a many-file 100 TB scan would parallelize naturally.
    */
  /** Session conf: when set, the shingled corpus is STAGED to parquet
    * under this directory instead of persisted to executor memory/disk.
    * The shingled view is corpus × n-gram-factor sized; at 100 TB it
    * cannot live in the cache layer, but a one-time staged write makes
    * every downstream branch an ordinary column-pruned parquet scan (and
    * survives executor loss — cached blocks don't).
    */
  val StageDirConf = "spark.graft.dedup.stageDir"

  /** Produce-once protocol for a shared stage subdirectory. A bare
    * check-then-overwrite races across SESSIONS sharing one stage dir
    * (two jobs both miss `_SUCCESS`, both write `sub`, mixed output);
    * instead the producer is elected by an exclusive CLAIM file —
    * NIO's atomic createFile (O_CREAT|O_EXCL) on file://, and
    * `fs.create(path, overwrite = false)` elsewhere (atomic at the
    * HDFS NameNode; a conditional put on modern object stores). The
    * winner writes the stage; a loser reads the stage if it is already
    * complete and otherwise just computes `fresh` — correct without
    * ever blocking on another session's write. A claim an hour old with
    * no `_SUCCESS` is a crashed producer: swept and re-contested (the
    * winner's `overwrite` mode clears any partial output). The winner
    * deletes its own claim once the write attempt finishes — after a
    * successful publish the `_SUCCESS` check short-circuits the claim
    * logic entirely, and after a failed write the next session may
    * re-contest immediately instead of waiting out the crash TTL — so a
    * healthy stage dir carries no `.claim` residue.
    */
  private[queries] def stagedOrFresh(s: SparkSession, sub: String,
      write: String => Unit, fresh: () => DataFrame): DataFrame = {
    val subPath = new org.apache.hadoop.fs.Path(sub)
    val fs = subPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val success = new org.apache.hadoop.fs.Path(subPath, "_SUCCESS")
    if (fs.exists(success)) return s.read.parquet(sub)
    val claim = new org.apache.hadoop.fs.Path(sub + ".claim")
    try {
      val st = fs.getFileStatus(claim)
      if (System.currentTimeMillis() - st.getModificationTime > StageTtlMs)
        fs.delete(claim, false)
    } catch { case _: java.io.IOException => () }
    // LocalFileSystem.create(overwrite = false) is exists()-then-create —
    // NOT atomic, so two racing producers could both "win" and clobber
    // each other's _temporary dirs mid-write (the Timeline writer-lock
    // acquisition documents the same weakness). file:// claims go
    // through NIO's atomic createFile (O_CREAT|O_EXCL); HDFS create is
    // atomic at the NameNode.
    val won =
      if (fs.getScheme == "file")
        try {
          val p = java.nio.file.Paths.get(
            fs.makeQualified(claim).toUri.getPath)
          // fs.create made parent dirs implicitly; NIO does not
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.createFile(p)
          true
        } catch { case _: java.io.IOException => false }
      else
        try { fs.create(claim, false).close(); true }
        catch { case _: java.io.IOException => false }
    if (won) {
      try write(sub) finally fs.delete(claim, false)
      s.read.parquet(sub)
    }
    else if (fs.exists(success)) s.read.parquet(sub)
    else fresh()
  }

  /** Stage-artifact key for input dir `dir`: the sanitized full path plus
    * a content fingerprint (names/sizes/mtimes of the dir's immediate
    * entries, md5'd). The old `math.abs(dir.hashCode)` key could collide
    * across two distinct corpus dirs (32-bit birthday; and
    * `abs(Int.MinValue)` is negative), and a REGENERATED fixture under
    * the same path would silently reuse stale staged
    * codebooks/centroids/indexes — the fingerprint turns both into a
    * clean stage miss instead. Memoized per (session, dir): one listing
    * per corpus dir per session, and the tag stays stable for the
    * session even if the dir is touched mid-run.
    */
  private val tagCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, String]]()
  private[queries] def stageTag(s: SparkSession, dir: String): String = {
    // outer map holds the session WEAKLY (a stopped, dropped session
    // must not be pinned for the JVM lifetime by its memoized tags)
    val per = tagCache.synchronized {
      var m = tagCache.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, String]()
        tagCache.put(s, m)
      }
      m
    }
    per.computeIfAbsent(dir, { _ => computeTag(s, dir) })
  }

  /** Fingerprint-FREE path key — the supersession-sweep FAMILY prefix:
    * artifacts of the same corpus path share it across content
    * regenerations, so a sweep catches indexes staged under an older
    * fingerprint (a fingerprint-keyed family would orphan them
    * forever), while artifacts of other corpus paths never match.
    */
  private[queries] def stagePathKey(dir: String): String =
    dir.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(64)

  /** The uncached tag computation (exposed for the spec — the memo above
    * deliberately pins one tag per session).
    */
  private[queries] def computeTag(s: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val listing =
      try {
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.listStatus(p).map { st =>
          // one level deep: a regenerated fixture that rewrites file
          // CONTENTS inside nested table dirs (same top-level names)
          // must still be a stage miss, so directory entries carry
          // their child count + max child len/mtime (one extra listing
          // per subdirectory — bounded by the table count, not files)
          val sub =
            if (!st.isDirectory) ""
            else try {
              val ch = fs.listStatus(st.getPath)
              val maxLen = if (ch.isEmpty) 0L else ch.map(_.getLen).max
              val maxMt =
                if (ch.isEmpty) 0L else ch.map(_.getModificationTime).max
              s":${ch.length}:$maxLen:$maxMt"
            } catch { case _: java.io.IOException => ":?" }
          s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}$sub"
        }.sorted.mkString("|")
      } catch { case _: java.io.IOException => "" }
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(listing.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    // bound the name (deep dirs); the fingerprint carries uniqueness
    s"${stagePathKey(dir)}_$fp"
  }

  /** Crash/supersession TTL for stage housekeeping (claim files and
    * superseded artifacts): anything this old can no longer be a live
    * producer or a read in flight.
    */
  private[queries] val StageTtlMs = 60 * 60 * 1000L

  /** Delete stage subdirectories in `family` (name prefix) that are NOT
    * `keep` and whose last modification is older than the TTL — the
    * housekeeping for artifacts that a newer artifact supersedes (an
    * advanced band index makes the old split's index dead weight, but a
    * session may still be mid-read right after the advance, hence the
    * TTL). Best-effort: IO failures are swallowed, correctness never
    * depends on the sweep.
    */
  private[queries] def sweepSuperseded(s: SparkSession, stage: String,
      family: String, keep: String, ttlMs: Long = StageTtlMs): Unit =
    try {
      val stagePath = new org.apache.hadoop.fs.Path(stage)
      val fs = stagePath.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(stagePath).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.startsWith(family) && name != keep &&
            System.currentTimeMillis() - st.getModificationTime > ttlMs)
          fs.delete(st.getPath, true)
      }
    } catch { case _: java.io.IOException => () }

  /** Shingle a (doc_id, text, ...) frame — the frame-level form of
    * [[docsWithShingles]] for callers that bring their own documents
    * (streaming micro-batches).
    */
  private[graft] def shingleDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingles(col("text"), N).as("sh"))
      .filter(size(col("sh")) > 0)

  private[queries] def docsWithShingles(s: SparkSession, dir: String): DataFrame = {
    val shingled = shingleDocs(Relational.tFan(s, dir, "documents"))
    // the shingle projection is interpreted (higher-order fn) and this
    // frame appears in 3 plan branches (index + two verify joins) —
    // cache it instead of shingling three times. Size ≈ corpus ×
    // n-gram factor: fine to executor-cache at test scale, stage via
    // [[StageDirConf]] beyond that.
    def cached() = shingled
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    s.conf.getOption(StageDirConf) match {
      case Some(stage) =>
        // deterministic per input dir, so repeat queries reuse the stage
        stagedOrFresh(s, s"$stage/shingled_${stageTag(s, dir)}",
          out => shingled.write.mode("overwrite").parquet(out),
          () => cached())
      case None => cached()
    }
  }

  /** Exact n-gram Jaccard pairs ≥ 0.8 via prefix-filtered inverted index
    * (PPJoin-style). A naive shingle self-join explodes as Σ df² on
    * high-document-frequency shingles (12.8 s at sf0.1, and quadratic
    * blowup at 100 TB); instead, candidates only need to share one of
    * each doc's |d| − ⌈t·|d|⌉ + 1 globally-rarest shingles (for J ≥ t the
    * overlap must be ≥ t·|d|, so two docs with no common prefix shingle
    * cannot reach t — no false negatives). The prefix join touches ~20%
    * of occurrences, all low-df; candidates are then exact-verified with
    * array_intersect. Output identical to the naive algorithm (same
    * DuckDB oracle).
    */
  def jaccardPairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = docsWithShingles(s, dir)
    // ex and prefix each feed two join branches (self-joins) — cache the
    // small occurrence/prefix frames so the df-rank window and frequency
    // agg run once, not once per branch
    val ex = docs.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val prefix = ex.join(dfreq, "s")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
      .filter(col("rk") <= col("n") - ceil(lit(Threshold) * col("n")) + 1)
      .select("doc_id", "n", "s")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = prefix.alias("a")
      .join(prefix.alias("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          // length filter: J ≥ t ⟹ t·|A| ≤ |B| ≤ |A|/t — prunes
          // size-mismatched pairs before the exact verify
          col("b.n") >= ceil(lit(Threshold) * col("a.n")) &&
          col("b.n") <= floor(col("a.n") / lit(Threshold)))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    releaseAfter(verifyJaccard(cands, ex), ex, prefix, docs)
  }

  /** Canonical-member selection per near-dup cluster
    * (`dedup_cluster_canonical`): a real pipeline keeps the BEST copy
    * of each dup family, not the lowest id — policy here: not-too-short
    * first, then the most tokens (most content), ties toward the lower
    * doc_id. The quality columns are the integer-exact `text_quality`
    * heuristics, so the whole selection replays in the oracle. One
    * window per cluster over membership ⋈ quality — both sides are
    * cluster-member-sized, tiny next to the corpus; cluster formation
    * itself reads the staged pair artifact.
    */
  def clusterCanonical(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = connectedComponents(s,
      stagedPairs(s, dir).select(col("id_a"), col("id_b")), "doc_id")
    val toks = size(split(col("text"), " "))
    val q = Relational.t(s, dir, "documents")
      .select(col("doc_id"), toks.cast("long").as("n_tokens"),
        (toks < 5).cast("int").as("too_short"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("too_short").asc, col("n_tokens").desc,
        col("doc_id").asc)
    clusters.join(q, "doc_id")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"),
        col("n_tokens").as("keep_tokens"),
        col("cluster_size").as("n_members"))
      .orderBy("cluster_id")
  }

  /** Near-CONTAINMENT pairs (`dedup_containment_pairs`): directed
    * (id_in, id_of) where |sh(in) ∩ sh(of)| / |sh(in)| ≥
    * [[ContainThreshold]] — the subset-duplication signal symmetric
    * Jaccard misses: a short document embedded whole inside a longer
    * one never lifts J over threshold (|A∪B| is dominated by the long
    * side), yet it is exactly the redundancy a curation pass cuts.
    *
    * Same PPJoin machinery as [[jaccardPairs]] with the containment
    * bounds: the prefix lives on the CONTAINED side only (missing all
    * of A's |A| − ⌈t·|A|⌉ + 1 rarest shingles forces containment < t),
    * the container side indexes its full shingle set, and the only
    * length filter is the one containment implies (|B| ≥ ⌈t·|A|⌉ —
    * shared ≤ |B|; no upper bound, containers may be arbitrarily
    * larger). Exact skinny-pair verify decides; deterministic, so the
    * directed pair list sits under the DuckDB hash gate.
    */
  val ContainThreshold = 0.9

  def containmentPairs(s: SparkSession, dir: String,
      t: Double = ContainThreshold): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = docsWithShingles(s, dir)
    val ex = docs.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val prefix = ex.join(dfreq, "s")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
      .filter(col("rk") <= col("n") - ceil(lit(t) * col("n")) + 1)
      .select("doc_id", "n", "s")
    val cands = prefix.alias("a")
      .join(ex.alias("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id") &&
          col("b.n") >= ceil(lit(t) * col("a.n")))
      .select(col("a.doc_id").as("id_in"), col("b.doc_id").as("id_of"))
      .distinct()
    val scored = cands
      .join(ex.select(col("doc_id").as("id_in"), col("n").as("n_in"),
        col("s")), "id_in")
      .join(ex.select(col("doc_id").as("id_of"), col("s")),
        Seq("id_of", "s"))
      .groupBy("id_in", "id_of", "n_in")
      .agg(count(lit(1)).as("shared"))
      .withColumn("containment", col("shared") / col("n_in"))
      .filter(col("containment") >= t)
      .select("id_in", "id_of", "containment")
      .orderBy("id_in", "id_of")
    releaseAfter(scored, ex, docs)
  }

  /** Jaccard near-dup pairs over DF-CAPPED shingle sets: shingles in
    * more than `cap` documents ("stop shingles" — boilerplate, template
    * chrome, the [[TextAnalysis.commonNgrams]] population) are dropped
    * from every document's set BEFORE similarity, and Jaccard is exact
    * over what remains. This is the documented approximation knob for
    * corpora where even prefix filtering drowns in boilerplate: the
    * candidate index cost is bounded by cap·Σdf instead of Σdf², at the
    * price of scoring only INFORMATIVE overlap (a pair similar purely in
    * boilerplate stops matching — usually the desired reading). The cap
    * rule is a pure function of the corpus, so the capped operator is
    * deterministic and sits under the same hash gate as the exact one.
    */
  def jaccardPairsDfCap(s: SparkSession, dir: String,
      cap: Long = 3L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = docsWithShingles(s, dir)
    val ex0 = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    val dfreq = ex0.groupBy("s").agg(count(lit(1)).as("df"))
    val kept = ex0.join(dfreq.filter(col("df") <= cap), "s")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val ex = kept.join(sizes, "doc_id").select("doc_id", "n", "s", "df")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prefix = ex
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
      .filter(col("rk") <= col("n") - ceil(lit(Threshold) * col("n")) + 1)
      .select("doc_id", "n", "s")
    val cands = prefix.alias("a")
      .join(prefix.alias("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("b.n") >= ceil(lit(Threshold) * col("a.n")) &&
          col("b.n") <= floor(col("a.n") / lit(Threshold)))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    releaseAfter(verifyJaccard(cands, ex.select("doc_id", "n", "s")),
      kept, ex, docs)
  }

  /** The verified pair list as a staged pipeline ARTIFACT: under
    * [[StageDirConf]] the first consumer stages [[jaccardPairs]]'s output
    * to parquet and every later pipeline stage (cluster formation,
    * curation's near-dup anti-join) reads it back — at 100 TB the pair
    * list is computed once per corpus snapshot, never once per
    * downstream query. Without the conf this is a plain recompute.
    * [[jaccardPairs]] itself — the measured pair-FINDING query — never
    * reads this stage.
    */
  private[queries] def stagedPairs(s: SparkSession, dir: String): DataFrame =
    s.conf.getOption(StageDirConf) match {
      case Some(stage) =>
        stagedOrFresh(s, s"$stage/pairs_${stageTag(s, dir)}",
          out => jaccardPairs(s, dir).write.mode("overwrite").parquet(out),
          () => jaccardPairs(s, dir))
      case None => jaccardPairs(s, dir)
    }

  /** Count-based exact Jaccard verify over the skinny (doc, n, shingle)
    * occurrence table `ex`: join candidates on both ids, count shared
    * shingles per pair — shuffles 16-byte rows, never the fat shingle
    * arrays (|pairs| × array-size bytes). Shared by every candidate
    * generator: PPJoin prefix ([[jaccardPairs]]), LSH bands
    * ([[minhashLsh]]), and the incremental band probe
    * ([[incrementalDedup]]). The candidate `distinct()` upstream is
    * load-bearing: a pair matched by k candidate shingles would join
    * k× and inflate `shared` k-fold.
    */
  private[graft] def verifyJaccard(cands: DataFrame, ex: DataFrame): DataFrame =
    cands
      .join(ex.select(col("doc_id").as("id_a"), col("n").as("na"), col("s")), "id_a")
      .join(ex.select(col("doc_id").as("id_b"), col("n").as("nb"), col("s")),
        Seq("id_b", "s"))
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        col("shared") / (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= Threshold)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")

  /** MinHash signatures computed the scale-friendly way: explode shingles
    * → two codegen'd xxhash64 per shingle (Kirsch-Mitzenmacher
    * g_i = h1 + i·h2) → k `min` aggregates with map-side partial combine.
    * Entirely inside whole-stage codegen; the shuffle carries one
    * (doc_id, h1, h2) row per shingle occurrence.
    */
  def minhashSignatures(docs: DataFrame, k: Int): DataFrame = {
    val ex = docs.select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"),
        xxhash64(col("s")).as("h1"), xxhash64(col("s"), lit(1)).as("h2"))
    val aggs = (0 until k).map(i =>
      min(Dedup.derivedHash(col("h1"), col("h2"), i)).as(s"_m$i"))
    ex.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"_m$i")): _*).as("sig"))
  }

  /** MinHash + LSH banding candidates, exact-Jaccard verified. Same
    * output contract as [[jaccardPairs]] (recall ≈ 1 at these
    * similarities: P[miss j=0.8] = (1-0.8⁴)¹⁶ ≈ 2e-4).
    */
  /** All docs banded with the shared MinHash LSH signature:
    * (doc_id, band, bsig) — the row shape of the corpus band index.
    */
  private[graft] def bandedDocs(shingled: DataFrame): DataFrame =
    shingled
      .join(minhashSignatures(shingled, NumHashes), "doc_id")
      .select(col("doc_id"),
        posexplode(lshBands(col("sig"), Bands, RowsPerBand)).as(Seq("band", "bsig")))

  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    val shingled = docsWithShingles(s, dir)
    val banded = bandedDocs(shingled)
    val cands = banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val ex = shingled.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("s"))
    releaseAfter(verifyJaccard(cands, ex), shingled)
  }

  /** Incremental near-dedup: match a NEW batch of documents against the
    * EXISTING corpus without ever forming corpus×corpus pairs — the
    * shape a streaming curation pipeline needs (dedup the increment
    * against the world, not the world against itself). Both sides are
    * banded with the same MinHash LSH signature; candidates are the
    * band-collision equi-join of increment × corpus, then exact-verified
    * with the skinny count-based Jaccard (recall ≈ 1 at these
    * similarities, as [[minhashLsh]]). Work is O(increment × collision
    * rate): the corpus-side band index is precisely what a production
    * pipeline persists between batches, so each batch pays only its own
    * banding + the collision join. The corpus/increment split is the
    * deterministic doc_id threshold at 80% of the id range (exactly
    * restated by the oracle).
    */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    // bounded control-flow scalar (one max over the corpus ids)
    val maxId = Relational.t(s, dir, "documents")
      .agg(max(col("doc_id"))).head().getLong(0)
    incrementalDedupAt(s, dir, (maxId + 1L) * 8L / 10L)
  }

  /** [[incrementalDedup]] at an explicit corpus/increment split: corpus =
    * doc_id < split, increment = the rest.
    */
  def incrementalDedupAt(s: SparkSession, dir: String, split: Long): DataFrame = {
    val shingled = docsWithShingles(s, dir)
    val banded = bandedDocs(shingled)
    // The corpus-side band index is the artifact a production pipeline
    // PERSISTS between batches — under StageDirConf it is staged to
    // parquet once (keyed by input dir + split) and every later
    // increment reads the staged index instead of re-banding the whole
    // corpus. Without a stage dir it stays an in-plan branch. After a
    // batch is accepted, [[absorbIncrement]] advances the index to the
    // new split by APPENDING the increment's bands — batch N+1 never
    // re-bands batch N.
    val corpus0 = banded.filter(col("doc_id") < split)
    val corpus = s.conf.getOption(StageDirConf) match {
      case Some(stage) =>
        stagedOrFresh(s, s"$stage/${bandIndexName(s, dir, split)}",
          out => corpus0.write.mode("overwrite").parquet(out),
          () => corpus0)
      case None => corpus0
    }
    val inc = banded.filter(col("doc_id") >= split)
    val cands = inc.alias("a")
      .join(corpus.alias("b"),
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig"))
      .select(col("b.doc_id").as("id_a"), col("a.doc_id").as("id_b"))
      .distinct()
    val ex = shingled.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("s"))
    releaseAfter(verifyJaccard(cands, ex), shingled)
  }

  private[queries] def bandIndexName(s: SparkSession, dir: String,
      split: Long): String =
    s"bands_${stageTag(s, dir)}_$split"

  /** Band-index append maintenance: advance the staged corpus band index
    * from `oldSplit` to `newSplit` by UNIONING the existing staged index
    * with bands of only the newly-accepted docs [oldSplit, newSplit) —
    * the per-batch cost is the increment's banding, never a corpus
    * re-band. Banding is deterministic, so the appended index is
    * row-identical to a from-scratch banding of doc_id < newSplit
    * (asserted in ExtensionSpec). Publication goes through the same
    * produce-once claim protocol as every stage artifact, and the now-
    * superseded old split's index is TTL-swept afterwards; without a
    * stage dir there is nothing to maintain and this is a no-op.
    */
  def absorbIncrement(s: SparkSession, dir: String,
      oldSplit: Long, newSplit: Long,
      sweepTtlMs: Long = StageTtlMs): Unit =
    s.conf.getOption(StageDirConf).foreach { stage =>
      val shingled = docsWithShingles(s, dir)
      val oldPath = new org.apache.hadoop.fs.Path(
        s"$stage/${bandIndexName(s, dir, oldSplit)}")
      val fs = oldPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val old =
        if (fs.exists(new org.apache.hadoop.fs.Path(oldPath, "_SUCCESS")))
          s.read.parquet(oldPath.toString)
        else bandedDocs(shingled).filter(col("doc_id") < oldSplit)
      val incBands = bandedDocs(shingled)
        .filter(col("doc_id") >= oldSplit && col("doc_id") < newSplit)
      val kept = bandIndexName(s, dir, newSplit)
      stagedOrFresh(s, s"$stage/$kept",
        out => old.union(incBands).write.mode("overwrite").parquet(out),
        () => old.union(incBands))
      sweepSuperseded(s, stage, s"bands_${stagePathKey(dir)}_",
        kept, sweepTtlMs)
      shingled.unpersist(false)
      ()
    }

  /** SimHash near-dup pairs (Hamming distance ≤ 3), candidates banded on
    * the four 15-bit chunks (any pair within distance 3 shares a chunk by
    * pigeonhole). The token hash is PORTABLE (plain integer arithmetic,
    * replicated verbatim by the DuckDB oracle) rather than engine-specific
    * xxhash64, so the sketch itself sits under the hash-match gate; the
    * spec additionally cross-checks recall against [[jaccardPairs]].
    */
  /** 60-bit SimHash per doc, scale formulation: explode tokens → one
    * codegen'd portable token hash (length/first/last/second-char probes,
    * the [[graft.functions.TextFunctions.fingerprint]] family) scrambled
    * into two 30-bit lanes → 60 per-bit vote sums as aggregate
    * expressions (map-side combined) → recombine into the sketch. Every
    * step is ANSI-SQL arithmetic — no lambdas, no engine hashes — so the
    * plan stays inside whole-stage codegen AND any engine can replicate
    * it bit-for-bit.
    */
  def simhashes(s: SparkSession, dir: String): DataFrame = {
    val t = col("t")
    val hv = (length(t) * lit(31) + ascii(t) * lit(7) +
      ascii(reverse(t)) * lit(13) +
      ascii(substring(t, 2, 1)) * lit(17) +
      ascii(substring(reverse(t), 2, 1)) * lit(19)).cast("long")
    val th = Relational.tFan(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"),
        // two multiplicative scrambles lift the ~15-bit probe hash into
        // two well-mixed 30-bit lanes (Knuth constants; products stay
        // far below 2^63, ANSI-overflow-free)
        ((hv * lit(2654435761L)) % lit(1073741789L)).as("g1"),
        ((hv * lit(2246822519L)) % lit(1073741789L)).as("g2"))
    val votes = (0 until 60).map { b =>
      val bit = if (b < 30) shiftright(col("g1"), b).bitwiseAND(1)
        else shiftright(col("g2"), b - 30).bitwiseAND(1)
      sum(when(bit === 1, 1).otherwise(-1)).as(s"_b$b")
    }
    th.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(b =>
          when(col(s"_b$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("sh64"))
  }

  def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = simhashes(s, dir)
    // r17 (guide §1.2/§2.4, the semanticPairs pattern): the chunked
    // frame feeds BOTH self-join branches — lazily that re-ran the
    // final signature aggregate + chunk explode per branch, and its
    // aggregate exchange is byte-tiny so AQE coalesced it narrow,
    // serializing the candidate join. Materialize once at the corpus
    // scan's fan width (the join build side broadcasts, so round-robin
    // probe partitioning is fine).
    val chunked = Materialize.spread(
      docs.select(col("doc_id"), col("sh64"),
        posexplode(expr(
          "transform(sequence(0,3), c -> (sh64 >> (15 * c)) & 32767)"))
          .as(Seq("chunk", "cval"))),
      graft.util.Fanout.partitionsFor(s,
        graft.util.Fanout.pathBytes(s, s"$dir/documents.parquet")))
    chunked.alias("a")
      .join(chunked.alias("b"),
        col("a.chunk") === col("b.chunk") && col("a.cval") === col("b.cval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.sh64").bitwiseXOR(col("b.sh64"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("id_a", "id_b")
  }

  /** Portable rolling-hash document fingerprints (oracle-checked). */
  def fingerprints(s: SparkSession, dir: String): DataFrame =
    Relational.t(s, dir, "documents")
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** Near-dup CLUSTER formation — the step after pair-finding in a real
    * dedup pipeline: connected components over the verified Jaccard pair
    * graph, cluster id = min doc_id reachable (the canonical survivor),
    * plus family size and the keep flag. Distributed min-label
    * propagation: each round every node takes the min of its own and its
    * neighbors' labels — two shuffles per round over the PAIR graph
    * (tiny next to the corpus), rounds = component diameter (near-dup
    * families are short chains). Each round's labels are eagerly
    * localCheckpoint'ed: lineage stays O(1) instead of O(rounds), which
    * is what makes iterative graph algorithms survive on Spark. For
    * planet-scale graphs with giant components swap the update rule for
    * large-star/small-star (alternating min-propagation that converges
    * in O(log n) rounds); the harness below is unchanged.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    connectedComponents(s,
      stagedPairs(s, dir).select(col("id_a"), col("id_b")), "doc_id")

  /** Session conf: edge-count threshold at which [[connectedComponents]]
    * switches from min-label propagation (rounds = component DIAMETER —
    * right for near-dup families, which are short chains) to the
    * large-star/small-star alternation of Kiveris et al., "Connected
    * Components in MapReduce and Beyond" (MR'14) — rounds = O(log² n)
    * independent of diameter, the planet-scale path once a graph can
    * hold giant high-diameter components.
    */
  val StarEdgesConf = "spark.graft.dedup.cc.starEdges"

  /** Shared connected-components harness over an undirected pair graph
    * `(id_a, id_b)` — min-label propagation as documented on
    * [[dedupClusters]], switching to large-star/small-star past
    * [[StarEdgesConf]] edges; also drives the SemDeDup-style semantic
    * clustering over embedding-cosine pairs
    * ([[Similarity.semanticClusters]]). Output:
    * `(<idCol>, cluster_id, cluster_size, is_canonical)` ordered by id.
    */
  private[queries] def connectedComponents(s: SparkSession,
      pairs: DataFrame, idCol: String): DataFrame = {
    val edges0 = pairs.unionAll(
      pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .toDF("src", "dst")
      .localCheckpoint(true) // pair graph materialized exactly once
    // The pair graph is tiny next to the corpus — size every per-round
    // shuffle to the KNOWN edge count instead of the session's
    // corpus-scale partitioning (32-task rounds over a few dozen edges
    // were pure fixed overhead; the count is O(1) on checkpointed data).
    val edgeCount = edges0.count()
    val p = math.max(1L, math.min(edgeCount / 10000L,
      s.sessionState.conf.numShufflePartitions.toLong)).toInt
    // AQE off + shuffle width pinned to `p` for the iteration loop
    // only (r17, guide §1.2): every round materializes through an
    // eager localCheckpoint, and AQE runs one scheduler JOB per
    // exchange inside each round's plan — profiled at 61 jobs / 0.6 s
    // of task time for a 2.5-3.5 s sim_components wall, pure
    // job-submission overhead. AQE has nothing to re-plan here: `p`
    // is already derived from the MEASURED edge count, so it gives
    // every implicit exchange (the per-round groupBys) the width AQE
    // would have coalesced to. The final labels join below runs on the
    // caller's session, at corpus width with AQE.
    val starEdges = s.conf.get(StarEdgesConf, "1000000").toLong
    val labels = Materialize.scopedLoop(edges0, p) { edges =>
      if (edgeCount >= starEdges) starLabels(edges, p)
      else propagateLabels(edges, p)
    }
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("doc_id").as(idCol), col("label").as("cluster_id"),
        col("cluster_size"), (col("doc_id") === col("label")).as("is_canonical"))
      .orderBy(idCol)
  }

  /** Min-label propagation labels: each round every node takes the min
    * of its own and its neighbors' labels; rounds = component diameter.
    * `edges0` is the SYMMETRIC checkpointed edge list.
    */
  private def propagateLabels(edges0: DataFrame, p: Int): DataFrame = {
    val s = edges0.sparkSession
    import s.implicits._
    val edges = edges0.repartition(p, col("src")).localCheckpoint(true)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
      .repartition(p, col("doc_id"))
      .localCheckpoint(true)
    var changed = 1L
    while (changed > 0) {
      val minNbr = edges
        .join(labels.select(col("doc_id").as("src"), col("label").as("nl")),
          "src")
        .groupBy(col("dst").as("doc_id")).agg(min(col("nl")).as("mn"))
      // convergence is decided IN the materialization pass: an
      // accumulator counts label changes while the eager localCheckpoint
      // computes the round — no second job over the result. Task retries
      // can only over-count, which at worst costs one extra (no-op)
      // round, never a missed update.
      val acc = s.sparkContext.longAccumulator("labelChanges")
      val next = labels.join(minNbr, Seq("doc_id"), "left")
        .select(col("doc_id"), col("label"),
          least(col("label"), coalesce(col("mn"), col("label"))).as("nl"))
        .as[(Long, Long, Long)]
        .mapPartitions(_.map { case (d, old, nl) =>
          if (nl != old) acc.add(1L)
          (d, nl)
        })
        .toDF("doc_id", "label")
        .localCheckpoint(true)
      changed = acc.value
      labels = next
    }
    labels
  }

  /** Large-star/small-star labels (Kiveris et al., MR'14): each round
    * first hangs every node's strictly-larger neighbors under its local
    * minimum (large-star), then collapses the remaining smaller
    * neighbors onto it (small-star). The edge set monotonically
    * converges to per-component STARS — every node directly attached to
    * its component minimum — in O(log² n) rounds regardless of
    * diameter, where propagation pays one round per hop. Same
    * eager-localCheckpoint lineage discipline and pair-graph-sized
    * shuffles as the propagation loop; convergence = the canonical edge
    * set's (count, xor-of-hashes) fingerprint repeating, read off the
    * already-checkpointed frame (xor: order-independent and
    * overflow-free under ANSI arithmetic; the edge set is distinct, so
    * nothing self-cancels).
    */
  private def starLabels(edges0: DataFrame, p: Int): DataFrame = {
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(src, dst))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // canonical orientation (src > dst): one row per undirected edge
    var edges = edges0.where(col("src") > col("dst"))
      .repartition(p, col("src")).localCheckpoint(true)
    var fp = fingerprint(edges)
    var converged = edges.isEmpty
    var rounds = 0
    while (!converged) {
      rounds += 1
      require(rounds <= 64, "star connected-components failed to converge")
      // large-star over the symmetric adjacency: node u with
      // m = min(Γ(u) ∪ {u}) emits (v, m) for every neighbor v > u.
      // Emitted edges keep the canonical orientation (m ≤ u < v).
      val sym = edges.unionAll(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy("src").agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      val large = sym.join(mins, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
        .repartition(p, col("src"))
        .localCheckpoint(true)
      // small-star over the canonical orientation (all neighbors < u):
      // rewire u and every non-min neighbor onto m = min(Γ(u)).
      val mins2 = large.groupBy("src").agg(min(col("dst")).as("m"))
      val small = large.join(mins2, "src")
        .where(col("dst") =!= col("m"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionAll(mins2.select(col("src"), col("m").as("dst")))
        .distinct()
        .repartition(p, col("src"))
        .localCheckpoint(true)
      val fp2 = fingerprint(small)
      converged = fp2 == fp
      fp = fp2
      edges = small
    }
    // star state: every non-root has exactly one edge to its root; roots
    // appear only on the dst side and label themselves.
    edges.select(col("src").as("doc_id"), col("dst").as("label"))
      .unionAll(edges.select(col("dst").as("doc_id"), col("dst").as("label")))
      .distinct()
  }
}
