package graft.queries

import graft.functions.TextFunctions.shingles
import graft.util.Materialize
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Corpus SELECTION operators — the half of a training-data pipeline that
  * decides WHICH documents make the training set (dedup decides which to
  * drop; these decide which to keep): deterministic sampling, stratified
  * sampling, token-budget selection, benchmark decontamination, TF-IDF
  * term profiling, and embedding-norm auditing.
  *
  * Scale rules applied throughout: per-row work is codegen'd expression
  * arithmetic (md5 / split / window ranks — no UDFs); every operator is a
  * single declarative plan; the one join against a small reference set
  * (decontamination) broadcasts it. Sampling is HASH-deterministic, not
  * `rand()`-based: the same row set is selected on every run, on any
  * cluster layout — reproducibility is a first-class requirement for
  * training-data builds (and it is what makes the DuckDB oracle possible).
  */
object Curation {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Relational.t(s, dir, "documents")

  private def tokens: Column = size(split(col("text"), " "))

  /** Deterministic ~1/16 Bernoulli sample: keep a doc iff the first 4 hex
    * chars of md5(doc_id) land under 0x1000. Hash-of-key sampling beats
    * `TABLESAMPLE`/`rand()` for pipelines: membership is a pure function
    * of the row, so reruns, retries, and different partitionings all
    * select the identical sample.
    */
  def hashSample(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("bucket", substring(md5(col("doc_id").cast("string")), 1, 4))
      .filter(col("bucket") < "1000")
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy("doc_id")

  /** Stratified deterministic sample: the hash-order first 20 docs PER
    * LANGUAGE — equal representation regardless of how skewed the corpus
    * is across strata. One hash-ranked window per stratum; at scale this
    * is a single shuffle on the stratum key.
    */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20)
      .select(col("doc_id"), col("lang"), col("rk"))
      .orderBy("lang", "rk")
  }

  /** Token-budget selection: per language, take documents in
    * quality-descending order until the running token count passes the
    * budget — the "best N tokens per language" mix rule of an LLM data
    * recipe. Quality is the integer mean-word-length heuristic
    * ([[TextAnalysis.qualityScore]]); the running sum is one window
    * aggregate per stratum.
    */
  def tokenBudget(s: SparkSession, dir: String, budget: Long = 5000L): DataFrame = {
    val quality = floor(col("n_chars") * 100 / tokens)
    val w = Window.partitionBy("lang")
      .orderBy(col("q").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, dir)
      .select(col("doc_id"), col("lang"),
        tokens.cast("long").as("n_tokens"), quality.as("q"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
      .orderBy("lang", "cum_tokens")
  }

  /** Sequence packing (context-window packing): assign documents to
    * training sequences of at most `budget` tokens under the
    * deterministic NEXT-FIT policy — walk each domain (lang) in doc_id
    * order and start a new sequence whenever the next doc would overflow
    * the running one (an over-budget single doc takes a sequence alone).
    * Emits the packed-sequence manifest (docs and token fill per
    * sequence).
    *
    * Scale shape: hash-partition by domain, sort (domain, doc_id) within
    * partitions, then one sequential pass per partition — domains are
    * the parallel unit. The running-reset cumulative sum cannot be a
    * window function (windows have no carry-dependent reset), so this is
    * the rare legitimately-imperative per-partition scan; everything
    * around it (the token arithmetic, the manifest aggregation) stays
    * declarative.
    */
  def packSequences(s: SparkSession, dir: String,
      budget: Long = 2048L): DataFrame = {
    import s.implicits._
    val prepared = docs(s, dir)
      .select(col("lang"), col("doc_id").cast("long").as("doc_id"),
        tokens.cast("long").as("n_tokens"))
      .repartition(col("lang"))
      .sortWithinPartitions("lang", "doc_id")
      .as[(String, Long, Long)]
    val packed = prepared.mapPartitions { it =>
      var lang: String = null
      var fill = 0L
      var seq = 0L
      it.map { case (l, id, n) =>
        if (l != lang) { lang = l; seq = 0L; fill = n }
        else if (fill + n > budget) { seq += 1; fill = n }
        else fill += n
        (l, seq, id, n)
      }
    }.toDF("lang", "seq_id", "doc_id", "n_tokens")
    packed.groupBy("lang", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("seq_tokens"))
      .orderBy("lang", "seq_id")
  }

  /** Benchmark decontamination: flag corpus docs sharing any word-3-gram
    * with the benchmark set (here: doc_id ≡ 0 mod 97 stands in for an
    * eval benchmark). The benchmark's distinct shingle set is broadcast —
    * eval suites are kilobytes-to-megabytes against a 100 TB corpus, so
    * the scan stays map-only: no shuffle of corpus shingles at all.
    * Emits (doc_id, n_hits) per contaminated doc — the drop list.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    // the shared word-3-gram shingle frame (same n as the dedup pack):
    // staged to parquet when [[Dedup.StageDirConf]] is set, else fanned
    // out + cached — it feeds both the benchmark and corpus branches,
    // and shingling twice doubled this query's cost
    val sh = Dedup.docsWithShingles(s, dir)
    val bench = sh.filter(col("doc_id") % 97 === 0)
      .select(explode(col("sh")).as("s")).distinct()
    val corpus = sh.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), explode(col("sh")).as("s"))
    val hits = corpus.join(broadcast(bench), "s")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
    // drop list is small — materialize it and release the shingle cache
    Materialize.releaseAfter(hits, sh)
  }

  /** Bloom-prefiltered decontamination — the shape the exact broadcast
    * set in [[decontaminate]] takes when the reference set outgrows a
    * comfortable broadcast: the benchmark's shingles are folded into an
    * `m`-bit Bloom BITSET (here 2^17 bits = 16 KB regardless of shingle
    * count), the corpus scan probes the bitset with `k`=3 portable
    * positions per shingle (pure codegen'd integer arithmetic against an
    * array literal — no UDF, no join), and only the docs with a Bloom hit
    * reach the exact confirming join. Blooms never miss, so recall is
    * exact by construction; the query reports the measured false-positive
    * cost per doc (`bloom_hits - exact_hits`) — the quantity you size `m`
    * against in production.
    *
    * Every position is portable arithmetic (the [[Dedup.fingerprints]]
    * token-probe fold, two Knuth multiplicative scrambles), so the DuckDB
    * oracle replays the bitset semantics as position-set membership and
    * the whole report sits under the hash gate.
    */
  def bloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val P = 1073741789L
    val mBits = 131072L // 2^17
    val cs = Seq(2654435761L, 2246822519L, 3266489917L)
    val sh = Dedup.docsWithShingles(s, dir)
    // portable shingle hash: per-word probe hash folded in word order
    // (the text_fingerprint family, already oracle-replayed verbatim)
    val wordProbe = (w: Column) =>
      (length(w) * 31 + ascii(w) * 7 + ascii(reverse(w)) * 13).cast("long")
    val shingleHash = aggregate(split(col("s"), " "), lit(0L),
      (a, w) => (a * 257 + wordProbe(w)) % lit(1000000007L))
    val hashed = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .withColumn("h", shingleHash)
    // the bitset: positions of the BENCHMARK shingles only. The collect
    // is bounded by the eval suite (KBs against a 100 TB corpus) and by
    // m itself — at most 2^17 distinct positions exist.
    val posOf = (c: Long) => col("h") * c % P % mBits
    val setPos = hashed.filter(col("doc_id") % 97 === 0)
      .select(explode(array(cs.map(posOf): _*)).as("pos")).distinct()
      .collect().map(_.getLong(0))
    val words = new Array[Long]((mBits / 64).toInt)
    setPos.foreach(p => words((p / 64).toInt) |= 1L << (p % 64).toInt)
    // r16 optimization (guide §2.3/§2.4), r17 fix (guide §2.3: filter
    // before the exchange): the bloom branch and the exact branch used
    // to be two separate per-doc aggregations over two fresh
    // explode+hash passes, stitched by a left join. A Bloom filter has
    // no false negatives, so an exact hit implies a bloom hit: ONE pass
    // computes both counts as conditional aggregates — and the corpus
    // stream is PRE-FILTERED to bloom hits before the bench join and
    // the per-doc aggregation (r16 aggregated every corpus shingle row;
    // the r16 driver measured that 2.9x slower than the two-pass shape).
    // Only bloom-hit rows can contribute to either count (exact ⊆
    // bloom), and a doc groups into the output iff it has ≥1 bloom-hit
    // row — exactly the old `bloom_hits > 0` base semantics.
    val corpus = hashed.filter(col("doc_id") % 97 =!= 0)
      .withColumn("bm", lit(words))
    val probed = cs.zipWithIndex.foldLeft(corpus) { case (df, (c, i)) =>
      df.withColumn(s"_w$i", (posOf(c) / 64).cast("int") + 1)
        .withColumn(s"_b$i", (posOf(c) % 64).cast("int"))
    }
    val bloomHit = cs.indices.map(i =>
      expr(s"shiftright(element_at(bm, _w$i), _b$i)").bitwiseAND(1) === 1)
      .reduce(_ && _)
    val bench = sh.filter(col("doc_id") % 97 === 0)
      .select(explode(col("sh")).as("s")).distinct()
      .withColumn("_in_bench", lit(true))
    val out = probed
      .filter(bloomHit)
      .select(col("doc_id"), col("s"))
      .join(broadcast(bench), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("bloom_hits"),
        sum(when(col("_in_bench"), 1L).otherwise(0L)).as("exact_hits"))
      .select(col("doc_id"), col("bloom_hits"), col("exact_hits"),
        (col("bloom_hits") - col("exact_hits")).as("false_pos"))
      .orderBy("doc_id")
    Materialize.releaseAfter(out, sh)
  }

  /** Top-3 TF-IDF terms per document, integer-rank form: rank by
    * (tf DESC, df ASC, term) — the same ordering tf·log(N/df) induces for
    * fixed tf, with no float in the compare, so the result is exactly
    * reproducible across engines. Term df is one map-side-combinable
    * aggregation over the exploded token stream.
    */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("token"))
    tf.join(dfreq, "token")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("token"), col("tf"), col("df"), col("rk"))
      .orderBy("doc_id", "rk")
  }

  /** BM25 ranked retrieval (`text_bm25_topk`): top-10 documents per
    * query (the token sets of docs 0–2), over an IMPACT-ORDERED posting
    * index — per term, only the 64 highest-tf postings are retrievable
    * (ties → lower doc_id), the standard WAND-family bound that keeps
    * per-query work at terms×64 candidates instead of a corpus fan-out;
    * at 100 TB the capped index is built once (one window per posting
    * list) and queries never touch the corpus. Scoring is integer-exact
    * so the oracle hash-matches across engines:
    *
    *   - tf saturation + length normalization (k1=1.2, b=0.75) is kept
    *     EXACT by clearing denominators — with avgdl = L/N the
    *     per-term factor tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) equals
    *     44·L·tf / (20·L·tf + 6·L + 18·dl·N), all integers, emitted in
    *     micro-units via one floor division;
    *   - the idf is the Lucene-positive form ln(1+(N−df+½)/(df+½)) =
    *     ln((N+1)/(df+½)) with the ln dropped: the exact rational
    *     (2N+2)·1000 DIV (2df+1) in milli-units. Cross-engine `ln` is
    *     not ULP-reproducible and bit-length quantization collapses on
    *     low-variance df; the rational keeps the ranking-relevant
    *     property (strictly decreasing in df) exactly.
    *
    * Query term sets are broadcast; tf/df/dl aggregations are map-side
    * combinable; the per-query top-10 window runs on the already-capped
    * candidate frame.
    */
  def bm25TopK(s: SparkSession, dir: String): DataFrame = {
    // QUERY PARSING on the driver (the coordinator step every search
    // engine has): the query term sets are bounded metadata — tokens
    // of 3 documents — collected once. They make the gate's volume
    // check exact and free (64·|pairs| needs no job), turn the query
    // frame into a local relation (broadcast without a scan), and let
    // tf restrict to query tokens INSIDE the corpus scan below.
    val q = collectQueryTerms(s, dir)
    val (tfQ, dl) = postingLookup(docs(s, dir), q.map(_._2).distinct.toSeq)
    val dfreq = tfQ.groupBy("token").agg(count(lit(1)).as("df"))
    bm25Score(bm25Cap(tfQ), dfreq, dl, queryFrame(s, q), 64L * q.length)
  }

  /** The per-query term sets (tokens of docs 0–2), driver-collected:
    * bounded query metadata, identical rows to the old distributed
    * `bm25Queries(tk)` frame.
    */
  private def collectQueryTerms(s: SparkSession,
      dir: String): Array[(Long, String)] = {
    // computed fresh on every invocation (r17): the r16 JVM-lifetime
    // memo keyed on the corpus fingerprint let a repeated query skip
    // the parse job, which under a min-of-N timing protocol reports a
    // number no fresh query ever sees — measurement gaming, not
    // optimization. Every invocation pays the parse — made cheap
    // honestly instead: fetch the ≤3 raw query docs (the doc_id
    // predicate pushes to the parquet scan) and tokenize on the
    // driver, which yields the same (query_id, token) set as the old
    // distributed explode→distinct→collect without its full
    // tokenization pass and distinct exchange. Tokenization matches
    // [[bm25Tokens]] exactly: regex-split on a single space, empty
    // tokens dropped (so Scala's trailing-empty trim is irrelevant),
    // per-query distinct.
    docs(s, dir).filter(col("doc_id") < 3).select("doc_id", "text")
      .collect()
      .iterator
      .flatMap { r =>
        val id = r.getLong(0)
        if (r.isNullAt(1)) Iterator.empty
        else r.getString(1).split(" ").iterator
          .filter(_.nonEmpty).map(id -> _)
      }
      .toArray.distinct.sortBy(identity)
  }

  private def queryFrame(s: SparkSession,
      q: Array[(Long, String)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(q.map(p =>
      org.apache.spark.sql.Row(p._1, p._2)).toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("token",
          org.apache.spark.sql.types.StringType))))
  }

  /** Posting-list LOOKUP, not index scan: only the query's tokens can
    * contribute to a score, and the per-term impact cap is independent
    * across terms, so restricting tf to query tokens INSIDE the corpus
    * scan (an array filter before the explode — no full-vocabulary
    * explode, shuffle, or window) is byte-identical to capping the
    * full vocabulary and joining after. Document length needs no
    * explode either: dl = count of non-empty tokens is a per-row
    * expression; docs with zero tokens drop out exactly as they do
    * from an exploded groupBy. One corpus scan per frame, both
    * map-side only.
    */
  private def postingLookup(d: DataFrame,
      tokens: Seq[String]): (DataFrame, DataFrame) = {
    val toks = split(col("text"), " ")
    val inQuery: Column => Column =
      if (tokens.isEmpty) _ => lit(false) else _.isInCollection(tokens)
    val tfQ = d.select(col("doc_id"),
        explode(filter(toks, t => inQuery(t))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dl = d.select(col("doc_id"),
        size(filter(toks, t => length(t) > 0)).cast("long").as("dl"))
      .filter(col("dl") > 0)
    (tfQ, dl)
  }

  private def bm25Tokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)

  /** Impact cap: per term, only the 64 highest-tf postings are
    * retrievable (ties → lower doc_id).
    */
  private def bm25Cap(tf: DataFrame): DataFrame = {
    val impactW = Window.partitionBy("token")
      .orderBy(col("tf").desc, col("doc_id").asc)
    tf.withColumn("irk", row_number().over(impactW))
      .filter(col("irk") <= 64).drop("irk")
  }

  private def bm25Queries(tk: DataFrame): DataFrame =
    tk.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("token")).distinct()

  /** Terms per query scored in the first (high-impact) pass of the
    * block-max shortlist; the rest are "low" terms whose postings are
    * only scanned for surviving candidates. Session-overridable via
    * [[Bm25HighTermsConf]].
    */
  val Bm25HighTermsConf = "spark.graft.bm25.highTerms"
  val Bm25HighTerms = 16

  /** Minimum LOW-term candidate-posting volume (Σ capped posting count
    * over every query's low terms) before the block-max shortlist
    * engages. The two-phase plan costs ~10 extra distributed stages
    * plus a driver t10 collect — constant scheduling overhead that a
    * small candidate frame can never repay, however prunable it is
    * (the r14 sf0.1 regression: 3 queries × a few hundred terms × the
    * 64-posting cap ≈ tens of KBs of candidates, pruned at 2× the
    * naive plan's total cost). Production retrieval workloads cross
    * the floor through query COUNT: 10k queries × 100 low terms × 64
    * capped postings ≈ 64M candidates, where the cut dominates. The
    * floor check itself costs one tiny query-frame count, never an
    * impact-frame job: 64·|query-term pairs| bounds the low volume
    * from above, so a below-floor workload short-circuits to the
    * naive single-job plan before any bound analysis runs.
    * Session-overridable via [[Bm25BlockMaxMinLowConf]] (specs set 0
    * to force engagement on small fixtures).
    */
  val Bm25BlockMaxMinLowConf = "spark.graft.bm25.blockmax.minLowCandidates"
  val Bm25BlockMaxMinLow = 262144L

  /** The block-max scoring plan: the final top-k plus the low-postings
    * frames a spec can measure the candidate cut on.
    */
  private[queries] case class Bm25Plan(result: DataFrame,
      lowAll: DataFrame, lowKept: DataFrame)

  /** The integer-exact scoring core shared by the batch and incremental
    * builds — see [[bm25TopK]] for the arithmetic derivation.
    */
  private def bm25Score(imp: DataFrame, dfreq: DataFrame,
      dl: DataFrame, qt: DataFrame,
      volUpper: Long = Long.MaxValue): DataFrame =
    bm25ScorePlan(imp, dfreq, dl, qt, volUpper).result

  /** Block-max (WAND-family) two-level shortlist — EXACT top-10, same
    * hash as the naive all-candidates sum, with the candidate frame cut
    * before the low-impact postings are ever joined:
    *
    *  1. per-posting impacts `su = idf·sat` and per-TERM max impacts
    *     (the block-max bound) come from the capped index — O(index);
    *  2. each query's terms split into the [[Bm25HighTerms]] highest
    *     max-impact "high" terms and the "low" rest, whose total bound
    *     is `ub_low = Σ tmax(low)`;
    *  3. phase 1 scores candidates over HIGH postings only and reads
    *     the 10th-best partial score `t10` per query;
    *  4. a candidate is kept iff `partial + ub_low ≥ t10` (its full
    *     score cannot otherwise reach the top-10: full ≤ partial +
    *     ub_low < t10 ≤ true 10th, since every full ≥ its partial
    *     makes the 10th order statistic monotone); docs matching ONLY
    *     low terms are pruned wholesale when `ub_low < t10` (their
    *     full ≤ ub_low), else that query falls back to all low
    *     postings — exactness never depends on the split choice;
    *  5. low postings are joined ONLY for survivors, and the exact
    *     combined scores rank as before.
    *
    * Strict `<` in every prune keeps boundary ties in the frame, so
    * the (score DESC, doc_id ASC) tie order is byte-identical to the
    * naive plan — the DuckDB oracle stays the naive SQL verbatim.
    *
    * COST-BASED engagement: the term split and bounds live on the
    * driver (query-term metadata — KBs), and the shortlist only runs
    * when some query's `ub_low < Σ tmax(high)`, a NECESSARY condition
    * for any prune to fire (t10 ≤ Σ high tmax always). On uniform-
    * impact corpora — block-max's worst case, where no bound can prove
    * anything — the plan falls back to the naive one-join scoring,
    * paying nothing for the machinery. The volume floor itself is
    * decided FIRST from the 64-posting cap alone (low volume ≤
    * 64·|query-term pairs|), so a below-floor workload never runs the
    * per-term bound-analysis job at all — its fallback IS the naive
    * single-job plan, not naive-plus-an-analysis-stage.
    */
  private def bm25ScorePlan(imp: DataFrame, dfreq: DataFrame,
      dl: DataFrame, qt: DataFrame,
      volUpper: Long = Long.MaxValue): Bm25Plan = {
    val s = imp.sparkSession
    import scala.jdk.CollectionConverters._
    val high = s.conf.getOption(Bm25HighTermsConf)
      .map(_.toInt).getOrElse(Bm25HighTerms)
    val cs = dl.agg(count(lit(1)).as("n"), sum("dl").as("l"))
    val idfM = expr("((2 * n + 2) * 1000) DIV (2 * df + 1)")
    // DECIMAL(38,0) intermediates: 44e6·l·tf overflows BIGINT once
    // l·tf > ~2.1e11 (l = corpus token count — reached well below the
    // 100 TB design point). The quotient itself is ≤ 44e6/20 so the
    // DIV result is back in long range; decimal keeps the arithmetic
    // exact (scale 0, values ≤ ~4.4e31 << 1e38), and the oracle mirrors
    // it with HUGEINT. The summed idf·sat product stays in long range
    // for corpora to ~1e9 docs (idf ≤ (2n+2)·1000/3).
    val satU = expr(
      "(CAST(44000000 AS DECIMAL(38,0)) * l * tf) DIV " +
        "(CAST(20 AS DECIMAL(38,0)) * l * tf + 6 * l + 18 * dl * n)")
    val minLow = s.conf.getOption(Bm25BlockMaxMinLowConf)
      .map(_.toLong).getOrElse(Bm25BlockMaxMinLow)
    // ---- volume-floor SHORT-CIRCUIT: ZERO extra jobs on the naive
    // path. Every capped posting list holds ≤ 64 entries, so the low
    // candidate volume is ≤ 64·|query-term pairs| whatever the split;
    // `volUpper` bounds that from the query docs' n_chars (a two-column
    // driver mini-read the caller already pays). Below the floor, the
    // gate's volume conjunct is already decided: the per-term
    // tmax/count analysis (a distributed job over the impact frame)
    // never runs and the fallback plans EXACTLY the naive one-join
    // single-job shape — query terms broadcast in-plan, nothing
    // persisted. The engaged path's decision is unchanged: when the
    // bound clears the floor, the exact analysis below still applies
    // every original conjunct (including the true volume floor).
    def naive(qtF: DataFrame, release: DataFrame*): Bm25Plan = {
      val cand = imp.join(broadcast(qtF), "token")
        .filter(col("doc_id") =!= col("query_id"))
        .join(dfreq, "token").join(dl, "doc_id")
        .crossJoin(broadcast(cs))
        .select(col("query_id"), col("doc_id"),
          (idfM * satU).as("su_sum"), lit(1L).as("n"))
      val sc = cand.groupBy("query_id", "doc_id")
        .agg(sum("su_sum").as("score_u"), sum("n").as("n_terms"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("score_u").desc, col("doc_id").asc)
      val res = sc.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("query_id"), col("doc_id"), col("score_u"),
          col("n_terms"), col("rk").cast("int").as("rk"))
        .orderBy("query_id", "rk")
      Bm25Plan(Materialize.releaseAfter(res, release: _*), cand, cand)
    }
    if (volUpper < minLow) return naive(qt)
    val qtC = qt.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // hint inconclusive (or absent — direct spec calls): one tiny count
    // of the query frame still beats the impact-frame analysis job
    if (64L * qtC.count() < minLow) return naive(qtC, qtC)
    // impacts only for terms some query asks about — O(query terms × 64)
    // postings touched, exactly the naive plan's candidate frame; cached
    // because both scoring paths and the bound analysis read it.
    val post = imp.join(broadcast(qtC.select("token").distinct()), "token")
      .join(dfreq, "token").join(dl, "doc_id")
      .crossJoin(broadcast(cs))
      .select(col("token"), col("doc_id"), (idfM * satU).as("su"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ---- driver-side bound analysis (query-term metadata, KBs) ----
    // ONE collect job yields both the per-term block-max bounds and the
    // per-query term lists (terms missing from every capped posting
    // drop out here, as they do from the naive candidate join)
    val qtm: Array[(Long, String, Long, Long)] = qtC
      .join(post.groupBy("token")
        .agg(max("su").as("tmax"), count(lit(1)).as("pc")), "token")
      .select("query_id", "token", "tmax", "pc").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val tmax: Map[String, Long] = qtm.map(x => x._2 -> x._3).toMap
    val pcount: Map[String, Long] = qtm.map(x => x._2 -> x._4).toMap
    val qterms: Map[Long, Seq[String]] = qtm
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    case class Split(query: Long, highT: Seq[String], lowT: Seq[String],
        ubLow: Long, highSum: Long, lowVol: Long)
    val splits = qterms.toSeq.sortBy(_._1).map { case (q, ts) =>
      val present = ts.filter(tmax.contains)
        .sortBy(t => (-tmax(t), t)) // (tmax DESC, token ASC)
      val (h, lo) = present.splitAt(high)
      Split(q, h, lo, lo.map(tmax).sum, h.map(tmax).sum,
        lo.map(t => pcount.getOrElse(t, 0L)).sum)
    }
    def lowFrame(ss: Seq[Split]): DataFrame = {
      val pairs = ss.flatMap(sp => sp.lowT.map(t => (sp.query, t)))
      val qLowDf =
        if (pairs.isEmpty) s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("query_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("token",
              org.apache.spark.sql.types.StringType))))
        else s.createDataFrame(pairs.map(p =>
          org.apache.spark.sql.Row(p._1, p._2)).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("query_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("token",
              org.apache.spark.sql.types.StringType))))
      post.join(broadcast(qLowDf), "token")
        .filter(col("doc_id") =!= col("query_id"))
    }
    val lowAll = lowFrame(splits)
    def finish(cand: DataFrame): DataFrame = {
      val sc = cand.groupBy("query_id", "doc_id")
        .agg(sum("su_sum").as("score_u"), sum("n").as("n_terms"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("score_u").desc, col("doc_id").asc)
      sc.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("query_id"), col("doc_id"), col("score_u"),
          col("n_terms"), col("rk").cast("int").as("rk"))
        .orderBy("query_id", "rk")
    }
    // engage only where the machinery can pay for itself: the bound
    // must be able to fire at all (ub_low < Σ high tmax — necessary,
    // since t10 never exceeds the high sum) AND the low postings must
    // be the majority of the candidate work (more low than high terms;
    // uniform-impact corpora fail the first conjunct, short queries the
    // second) AND the total low candidate volume must clear the floor
    // (a prunable-but-tiny frame can't repay the two-phase plan's
    // constant stage overhead — [[Bm25BlockMaxMinLowConf]]). Falling
    // back costs nothing in exactness — the naive one-join scoring
    // over the same cached impact frame.
    if (splits.map(_.lowVol).sum < minLow ||
      !splits.exists(sp => sp.lowT.size > sp.highT.size &&
        sp.ubLow < sp.highSum)) {
      val cand = post.join(broadcast(qtC), "token")
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"),
          col("su").as("su_sum"), lit(1L).as("n"))
      Bm25Plan(Materialize.releaseAfter(finish(cand), post, qtC), lowAll, lowAll)
    } else {
      def litPairs(ps: Seq[(Long, String)]): DataFrame =
        s.createDataFrame(ps.map(p =>
          org.apache.spark.sql.Row(p._1, p._2)).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("query_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("token",
              org.apache.spark.sql.types.StringType))))
      val qHighDf = litPairs(splits.flatMap(sp => sp.highT.map(sp.query -> _)))
      val p1 = post.join(broadcast(qHighDf), "token")
        .filter(col("doc_id") =!= col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(sum("su").as("su_sum"), count(lit(1)).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val wQ = Window.partitionBy("query_id")
        .orderBy(col("su_sum").desc, col("doc_id").asc)
      // the per-query 10th-best partial: ≤ one row per query
      val t10: Map[Long, Long] = p1.withColumn("rk", row_number().over(wQ))
        .filter(col("rk") === 10)
        .select("query_id", "su_sum").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ubLow = splits.map(sp => sp.query -> sp.ubLow).toMap
      // survivor filter as ONE broadcast join on a (query_id, t10,
      // ub_low) frame — a per-query literal OR-chain would grow the
      // Catalyst expression tree O(#queries) and blow up analysis/
      // codegen at production query counts. A query without a t10 row
      // (fewer than 10 phase-1 docs) joins null and keeps everything.
      val t10Df = s.createDataFrame(t10.toSeq.sortBy(_._1).map { case (q, t) =>
        org.apache.spark.sql.Row(q, t, ubLow.getOrElse(q, 0L))
      }.asJava, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("t10",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ub_low_q",
          org.apache.spark.sql.types.LongType))))
      val surv = p1.join(broadcast(t10Df), Seq("query_id"), "left")
        .filter(col("t10").isNull ||
          col("su_sum") + col("ub_low_q") >= col("t10"))
        .drop("t10", "ub_low_q")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // queries whose low-only docs are wholesale-prunable
      val cutQ = splits.filter(sp =>
        t10.get(sp.query).exists(t => ubLow.getOrElse(sp.query, 0L) < t))
        .map(_.query).toSet
      val lowCut = lowFrame(splits.filter(sp => cutQ.contains(sp.query)))
        .join(surv.select("query_id", "doc_id"),
          Seq("query_id", "doc_id"), "left_semi")
      val lowOpen = lowFrame(splits.filterNot(sp => cutQ.contains(sp.query)))
      val lowKept = lowCut.unionByName(lowOpen)
      val cand = surv.unionByName(
        lowKept.select(col("query_id"), col("doc_id"),
          col("su").as("su_sum"), lit(1L).as("n")))
      Bm25Plan(Materialize.releaseAfter(finish(cand), post, qtC, p1, surv),
        lowAll, lowKept)
    }
  }

  /** Spec probe: the batch build's block-max plan with the low-posting
    * frames exposed (candidate-volume assertions in Bm25Spec).
    */
  private[queries] def bm25TopKPlan(s: SparkSession, dir: String): Bm25Plan = {
    val tk = bm25Tokens(s, dir)
    val qt = bm25Queries(tk)
    val tfQ = tk.join(broadcast(qt.select("token").distinct()), "token")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dl = tk.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val dfreq = tfQ.groupBy("token").agg(count(lit(1)).as("df"))
    bm25ScorePlan(bm25Cap(tfQ), dfreq, dl, qt)
  }

  /** Incremental BM25 (`text_bm25_incr`): the corpus impact index
    * (capped postings, df, dl for docs below the 80%-of-id-range split)
    * is STAGED once under [[Dedup.StageDirConf]]; an arriving batch
    * folds in with increment-only work — its own tf/df/dl plus a
    * per-term re-cap of (old top-64 ∪ increment), never a corpus
    * re-scan. Convergence is exact, not approximate: a document in the
    * full corpus's per-term top-64 is either in the increment or
    * already inside the corpus index's top-64 (fewer than 64 corpus
    * docs outrank it), so top-64(old ∪ inc) == top-64(full) and the
    * ORACLE IS THE BATCH BUILD VERBATIM — the maintenance path must
    * reproduce `text_bm25_topk`'s index bit-for-bit. df/dl/totals fold
    * exactly because doc sets are disjoint.
    */
  def bm25Incremental(s: SparkSession, dir: String): DataFrame = {
    // split point computed fresh per invocation (r17 — the JVM memo
    // here had the same min-of-N gaming shape as the query-terms one)
    val split = {
      val maxIdRow = docs(s, dir).agg(max(col("doc_id"))).head()
      // empty corpus: split 0 makes both halves empty and the scorer
      // returns the empty frame with the right schema (the other
      // curation entry points' empty-input contract), not an NPE here
      if (maxIdRow.isNullAt(0)) 0L
      else (maxIdRow.getLong(0) + 1L) * 8L / 10L
    }
    bm25IncrementalAt(s, dir, split)
  }

  def bm25IncrementalAt(s: SparkSession, dir: String,
      split: Long): DataFrame = {
    val tk = bm25Tokens(s, dir)
    val q = collectQueryTerms(s, dir)
    val qtT = q.map(_._2).distinct.toSeq
    def parts(t: DataFrame): (DataFrame, DataFrame, DataFrame) = {
      val tf = t.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      (bm25Cap(tf),
        tf.groupBy("token").agg(count(lit(1)).as("df")),
        t.groupBy("doc_id").agg(count(lit(1)).as("dl")))
    }
    // the STAGED corpus index stays full-vocabulary — it is the
    // query-independent artifact every later query reuses
    val (cImp0, cDf0, cDl0) = parts(tk.filter(col("doc_id") < split))
    def staged(kind: String, df0: DataFrame): DataFrame =
      s.conf.getOption(Dedup.StageDirConf) match {
        case Some(stage) =>
          val name = s"bm25${kind}_${Dedup.stageTag(s, dir)}_$split"
          Dedup.stagedOrFresh(s, s"$stage/$name",
            out => df0.write.mode("overwrite").parquet(out), () => df0)
        case None => df0
      }
    val (cImp, cDf, cDl) =
      (staged("imp", cImp0), staged("df", cDf0), staged("dl", cDl0))
    // READ-side posting-list lookup ([[postingLookup]]): the staged
    // index restricts to the query's tokens (the lists an inverted
    // index would fetch), and the increment's tf/dl come straight off
    // the increment scan with no explode-shuffle; per-term cap
    // independence keeps it byte-identical to the full re-cap
    val inQ: Column => Column =
      if (qtT.isEmpty) _ => lit(false) else _.isInCollection(qtT)
    val (tfI, iDl) = postingLookup(
      docs(s, dir).filter(col("doc_id") >= split), qtT)
    val imp = bm25Cap(
      cImp.filter(inQ(col("token"))).unionByName(bm25Cap(tfI)))
    val dfreq = cDf.filter(inQ(col("token")))
      .unionByName(tfI.groupBy("token").agg(count(lit(1)).as("df")))
      .groupBy("token").agg(sum("df").as("df"))
    val dl = cDl.unionByName(iDl)
    bm25Score(imp, dfreq, dl, queryFrame(s, q), 64L * q.length)
  }

  /** Repetitiveness quality signal (the Gopher-rules family): the share
    * of duplicated word-3-grams inside each document, as integer basis
    * points so the oracle compares exactly. High duplicate share marks
    * boilerplate / generated spam for the quality gate. Pure per-row
    * expression arithmetic — no shuffle at all.
    */
  def repetitionScore(s: SparkSession, dir: String): DataFrame = {
    val n = size(split(col("text"), " ")) - 2 // total 3-grams, with repeats
    graft.util.Fanout.scanPath(s, docs(s, dir), s"$dir/documents.parquet")
      .withColumn("n_sh", n.cast("long"))
      .filter(col("n_sh") > 0)
      .withColumn("n_uniq", size(shingles(col("text"), 3)).cast("long"))
      .select(col("doc_id"), col("n_sh"), col("n_uniq"),
        floor((col("n_sh") - col("n_uniq")) * 10000 / col("n_sh"))
          .as("dup_bp"))
      .orderBy("doc_id")
  }

  /** Quantile binning by document length via the HDR sketch: decile
    * boundaries come from the mergeable integer histogram
    * ([[Sketches.hdrHistogram]]), and bin assignment is a broadcast of
    * the single 9-boundary row against a map-only corpus scan. This is
    * the scale-correct form of `ntile(10) OVER (ORDER BY n_chars)`,
    * which funnels every row through one global sort partition; here the
    * data is touched twice, both times embarrassingly parallel, and the
    * only coordination is the few-hundred-row sketch. Boundaries are
    * bucket lower bounds (all-integer), so bins are deterministic and
    * the oracle replays them exactly; boundary granularity (≤1/16
    * relative) decides only WHERE ties land, never reproducibility.
    */
  def quantileBins(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val hist = Sketches.hdrHistogram(d, col("n_chars").cast("long"))
    val cum = hist.withColumn("cum",
      sum("cnt").over(Window.orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = hist.agg(sum(col("cnt")).as("n"))
    val boundCols = (1 to 9).map(i =>
      min(when(col("cum") >= expr(s"($i * n + 9) DIV 10"), col("lo")))
        .as(s"b$i"))
    val bounds = cum.crossJoin(tot).agg(boundCols.head, boundCols.tail: _*)
    val v = col("n_chars").cast("long")
    d.crossJoin(broadcast(bounds))
      .select(col("doc_id"), v.as("n_chars"),
        (1 to 9).map(i => when(v >= col(s"b$i"), 1L).otherwise(0L))
          .reduce(_ + _).as("bin"))
      .orderBy("doc_id")
  }

  /** Domain/language mixing: per-stratum deterministic keep-rates — the
    * "data recipe" step that reweights a crawl toward a target language
    * mix. Same md5-threshold mechanism as [[hashSample]], with the
    * threshold a function of the stratum; membership stays a pure
    * function of the row.
    */
  val MixWeights: Seq[(String, String)] = Seq(
    "en" -> "8000", "fr" -> "4000", "es" -> "2000", "de" -> "1000",
    "zh" -> "0800")

  def domainMix(s: SparkSession, dir: String): DataFrame = {
    val threshold = MixWeights.init.foldRight(
      lit(MixWeights.last._2): Column) { case ((l, t), rest) =>
      when(col("lang") === l, t).otherwise(rest)
    }
    docs(s, dir)
      .withColumn("bucket", substring(md5(col("doc_id").cast("string")), 1, 4))
      .filter(col("bucket") < threshold)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  /** Int8 embedding quantization — the storage-compression step before
    * ANN indexing: per-vector symmetric scale (127 / max|x|), values
    * rounded by `floor(x·scale + 0.5)` (chosen over round() because its
    * IEEE evaluation is identical across engines, which keeps the op
    * oracle-checkable). Emits per-vector checksums of the quantized
    * codes; all arithmetic is codegen'd array expressions.
    */
  def quantizeEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val x = col("embedding")
    val absMax = array_max(transform(x, e => abs(e.cast("double"))))
    val q = transform(x, e =>
      floor(e.cast("double") * col("scale") + 0.5).cast("long"))
    Relational.t(s, dir, "embeddings")
      // all-zero vector: absMax=0 would give scale=Inf and 0*Inf=NaN
      // (whose BIGINT cast differs across engines) — pin scale to 0 so
      // the codes are all-zero, mirrored in the DuckDB oracle
      .withColumn("scale",
        when(absMax > 0, lit(127.0) / absMax).otherwise(lit(0.0)))
      .withColumn("q", q)
      .select(col("vec_id"), col("scale"),
        aggregate(col("q"), lit(0L), (a, v) => a + v).as("qsum"),
        aggregate(col("q"), lit(0L), (a, v) => a + abs(v)).as("qabs"))
      .orderBy("vec_id")
  }

  /** Leakage-free train/val split: the split is keyed on the near-dup
    * CLUSTER, not the document, so near-duplicates can never straddle
    * train and validation (the eval-contamination failure mode a plain
    * per-doc hash split has). Docs outside any pair family are their own
    * singleton cluster. The assignment is the portable multiplicative
    * scramble over the cluster id (≈90/10), so any engine — and any
    * later rerun over a grown corpus — reproduces it exactly; cluster
    * formation reuses the staged pair artifact under
    * [[Dedup.StageDirConf]], so the split costs one broadcast-sized join
    * beyond the clusters a curation pipeline already computed.
    */
  def leakFreeSplit(s: SparkSession, dir: String): DataFrame = {
    val clusters = Dedup.dedupClusters(s, dir)
      .select(col("doc_id"), col("cluster_id"))
    val keyed = Relational.t(s, dir, "documents").select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val g = (col("cluster_id") * lit(2654435761L)) % lit(1073741789L)
    keyed
      .withColumn("split",
        when(g % 10 < 9, lit("train")).otherwise(lit("val")))
      .orderBy("doc_id")
  }

  /** Per-vector L2 norms over the embedding column — the audit pass
    * before cosine workloads (catches unnormalized / zero vectors). The
    * fold runs left-to-right inside codegen'd `aggregate`, giving
    * bit-identical IEEE results to the oracle's list_reduce.
    */
  def embeddingNorms(s: SparkSession, dir: String): DataFrame =
    Relational.t(s, dir, "embeddings")
      .select(col("vec_id"),
        sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double"))).as("norm"))
      .orderBy("vec_id")

  /** Temperature-scaled domain mixture plan (`curate_mix_temperature`)
    * — the standard multilingual rebalancing: target share of domain d ∝
    * n_d^(1/T), which upsamples tail domains and downsamples the head.
    * T = 2 (square-root weighting) is chosen deliberately: sqrt and the
    * four basic operations are IEEE correctly-rounded and therefore
    * BIT-PORTABLE across engines, unlike ln/pow/exp — so this is the
    * temperature the hash gate can verify. Weights are floored to
    * integer micro-units and combined with pure integer arithmetic
    * (order-free sums, integer division), so the plan replays exactly.
    * Output: per domain, its corpus count, micro-weight, and target doc
    * count out of a [[MixBudget]]-doc budget.
    */
  val MixBudget = 1000L

  def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    val c = docs(s, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("w_us",
        floor(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
    val tot = c.agg(sum(col("w_us")).as("wsum"))
    c.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("w_us"),
        expr(s"($MixBudget * w_us) DIV wsum").as("target_docs"))
      .orderBy("lang")
  }

  /** Fill-in-the-middle sample preparation (`curate_fim_split`) — the
    * FIM/span-corruption data-prep stage: each document splits into
    * (prefix, middle, suffix) at pseudo-random token boundaries that are
    * a PURE FUNCTION of doc_id (two extra rounds of the portable
    * multiplicative-scramble hash), so any engine, rerun, or shard
    * layout cuts every document identically — which is what makes FIM
    * corpora reproducible and their dedup/decontamination joins stable.
    * Emitted per doc: token counts of the three segments plus an md5 of
    * each segment's text (the segment fingerprint downstream joins use;
    * full text stays in the source table). Docs under 3 tokens cannot
    * split and are excluded. Map-only over the corpus.
    */
  def fimSplit(s: SparkSession, dir: String): DataFrame = {
    val P = 1073741789L
    val h0 = (col("doc_id") % P) * 2654435761L % P
    val g2 = (h0.bitwiseXOR(shiftright(h0, 13)) * 2246822519L % P)
    val g3 = (g2.bitwiseXOR(shiftright(g2, 11)) * 2654435761L % P)
    docs(s, dir)
      .withColumn("t", split(col("text"), " "))
      .withColumn("n", size(col("t")).cast("long"))
      .filter(col("n") >= 3)
      .withColumn("p_end", lit(1L) + g2 % (col("n") - 2))
      .withColumn("m_end",
        col("p_end") + 1L + g3 % (col("n") - col("p_end") - 1))
      .select(col("doc_id"), col("n").as("n_tokens"),
        col("p_end"), col("m_end"),
        md5(expr("array_join(slice(t, 1, int(p_end)), ' ')")).as("prefix_md5"),
        md5(expr("array_join(slice(t, int(p_end) + 1, int(m_end - p_end)), ' ')"))
          .as("middle_md5"),
        md5(expr("array_join(slice(t, int(m_end) + 1, int(n - m_end)), ' ')"))
          .as("suffix_md5"))
      .orderBy("doc_id")
  }

  /** Deterministic corpus shuffle + shard assignment (`curate_shuffle`)
    * — the training-export ordering step: every doc gets a
    * pseudo-random position that is a PURE FUNCTION of its id (the
    * portable multiplicative-scramble hash the sketches use — no RNG,
    * no seed state), shard = hash mod [[ShuffleShards]], position =
    * hash-rank within the shard. Reproducible end to end: any engine,
    * any partitioning, any rerun emits the same (shard, pos) for every
    * doc — which is what makes training-order bugs bisectable and
    * resharding a pure recompute.
    *
    * Scale shape: one shuffle keyed by shard (balanced by the hash),
    * one sort per shard — exactly the order in which an exporter
    * writes each shard file, so the sort is not extra work. Shard
    * count scales with the corpus; per-shard volume stays bounded.
    */
  val ShuffleShards = 16

  def shuffleShards(s: SparkSession, dir: String): DataFrame = {
    // h0 = (id % P) · A1 mod P;  g = xor-shift-mixed second round —
    // identical constants to the sketch hashes (SQL-replicable)
    val P = 1073741789L
    val h0 = (col("doc_id") % P) * 2654435761L % P
    val g = (h0.bitwiseXOR(shiftright(h0, 13)) * 2246822519L % P).as("g")
    val w = Window.partitionBy("shard").orderBy(col("g"), col("doc_id"))
    docs(s, dir)
      .select(col("doc_id"), g)
      .withColumn("shard", (col("g") % ShuffleShards).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "pos")
      .orderBy("shard", "pos")
  }

  /** Diversity-aware subset selection (`curate_diversity_sample`) — the
    * D4/SemDeDup-style stage after dedup: pick a budget of [[DiversityK]]
    * vectors that COVER the embedding space instead of the corpus's
    * density peaks. Selection contract: every vector is assigned to its
    * IVF cell (the shared bit-portable trainer), ranked within the cell
    * by prototypicality (cosine to the assigned centroid, ties toward
    * the lower vec_id), and the budget fills ROUND-ROBIN across cells
    * in (crank, cell) order — so every region contributes its most
    * representative members before any region contributes its second.
    * Deterministic end to end, so the whole selection is hash-gated by
    * a trainer-replay oracle.
    *
    * Scale shape: assignment is a broadcast cross-join (map-only);
    * within-cell ranking is a window PARTITIONED BY CELL (parallel over
    * cells, never a global window); the budget cut is orderBy+limit —
    * TakeOrderedAndProject per-partition heads, no single-task sort of
    * the corpus.
    */
  val DiversityK = 64

  def diversitySample(s: SparkSession, dir: String,
      k: Int = DiversityK): DataFrame = {
    val e = Relational.tFan(s, dir, "embeddings")
    val cent = Similarity.ivfCentFor(s, dir, e)
    // single assignment = the shared multi-assign primitive at a=1 —
    // one place owns the tie semantics the trainer-replay oracles mirror
    val asg = Similarity.multiAssignCells(e, cent, a = 1)
    val wc = Window.partitionBy("cell")
      .orderBy(col("csim").desc, col("vec_id").asc)
    asg.withColumn("crank", row_number().over(wc))
      .orderBy(col("crank"), col("cell"))
      .limit(k)
      .select("vec_id", "cell", "crank", "csim")
  }

  /** DSIR importance weights (`curate_dsir`) — Data Selection via
    * Importance Resampling (Xie et al. 2023): score every document by
    * how much more likely its hashed-feature unigram stream is under a
    * TARGET domain's distribution than under the full corpus's, then
    * keep the top slice. This is the standard "make the pretraining mix
    * look like the target domain" selector; here the target is the
    * `lang = targetLang` subset (in production: a quality-reference
    * corpus like Wikipedia).
    *
    * Portability: features are the proven probe-hash family scrambled
    * into [[DsirBuckets]] buckets (the simhash constants), and the
    * log-ratio is a q4 fixed-point PIECEWISE-LINEAR log2 — bit length
    * picks the octave, the 4 bits under the leading bit interpolate
    * inside it: `L(x) = (bits(x)−1)·16 + ((x·16) >> (bits(x)−1)) − 16`
    * (1/16-bit resolution; the plain bit-length log the LM score uses
    * is too coarse here — when the target is a large corpus share the
    * per-bucket ratios live INSIDE one octave and every weight rounds
    * to the same value). The weight
    *   Σ_f n_f · (L(ct_f+1) − L(cs_f+1)) − n_doc · (L(Ct+1) − L(Cs+1))
    * is pure integer arithmetic end to end, so the DuckDB oracle
    * replays it bit-for-bit, keep flag included.
    *
    * Scale shape: the feature tables ARE the model — two map-side-
    * combined aggregations bounded by the bucket count, broadcast back
    * onto the per-doc feature counts (a ≤[[DsirBuckets]]-row build
    * side at ANY corpus size). The top-decile KEEP flag is the
    * [[quantileBins]] shape, not a global rank: weights shift into the
    * non-negative domain by their global min (one map-side-combined
    * aggregate), the 90th-percentile boundary comes from the mergeable
    * integer HDR histogram ([[Sketches.hdrHistogram]] — a few hundred
    * rows at any corpus size), and `keep` is a broadcast of that one
    * boundary against a map-only scan. keep = weight ≥ the boundary
    * bucket's lower bound, so the kept slice is the top decile up to
    * the sketch's 1/16 relative boundary granularity — and the cut is
    * a pure VALUE threshold (every kept weight ≥ every dropped one).
    * No row of the corpus ever crosses a single-partition window. Like
    * DSIR itself, the model trains once per target and scores any
    * number of batches map-only thereafter.
    */
  val DsirBuckets = 1024

  def dsirWeights(s: SparkSession, dir: String,
      targetLang: String = "en"): DataFrame = {
    val t = col("t")
    val hv = (length(t) * lit(31) + ascii(t) * lit(7) +
      ascii(reverse(t)) * lit(13) +
      ascii(substring(t, 2, 1)) * lit(17) +
      ascii(substring(reverse(t), 2, 1)) * lit(19)).cast("long")
    val tok = graft.util.Fanout.scanPath(s, docs(s, dir),
      s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("t"))
      .filter(length(t) > 0)
      .select(col("doc_id"), col("lang"),
        (((hv * lit(2654435761L)) % lit(1073741789L)) %
          lit(DsirBuckets.toLong)).as("f"))
    // one tokenize feeds the model counts AND the per-doc counts
    val tokP = tok.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // r16 optimization (guide §2.4): source and target bucket counts
    // were two separate aggregation passes over the token stream (and
    // their totals two more, stitched by a crossJoin); one conditional
    // aggregate computes both — a bucket with no target tokens gets
    // ct=0, exactly what the old left join + coalesce produced.
    val model = tokP.groupBy("f").agg(
      count(lit(1)).as("cs"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("ct"))
    val tots = model.agg(sum(col("cs")).as("cs_tot"),
      sum(col("ct")).as("ct_tot"))
    // q4 piecewise-linear log2 of a positive count (shift amount is a
    // column, so the SQL shiftright — the Scala wrapper is literal-only)
    def l2q4(c: Column): Column = {
      val bl = length(bin(c))
      ((bl - 1) * 16).cast("long") +
        call_function("shiftright", c * 16, bl - 1) - 16L
    }
    val perDoc = tokP.groupBy("doc_id", "f").agg(count(lit(1)).as("n"))
      .join(broadcast(model), "f")
      .select(col("doc_id"), col("n"),
        (col("n") * (l2q4(col("ct") + 1) -
          l2q4(col("cs") + 1))).cast("long").as("w"))
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_tok"), sum(col("w")).as("fbits"))
    val weighted = docs(s, dir).select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(tots))
      .select(col("doc_id"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        (coalesce(col("fbits"), lit(0L)) -
          coalesce(col("n_tok"), lit(0L)) *
            (l2q4(col("ct_tot") + 1) - l2q4(col("cs_tot") + 1)))
          .cast("long").as("dsir_q4"))
    val wP = weighted.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // shift into the histogram's non-negative domain (dsir_q4 is a
    // signed log-ratio); the min is one map-side-combined aggregate
    val minv = wP.agg(min(col("dsir_q4")).as("minv"))
    val shifted = wP.crossJoin(broadcast(minv))
      .withColumn("sv", col("dsir_q4") - col("minv"))
    val hist = Sketches.hdrHistogram(shifted, col("sv"))
    val cum = hist.withColumn("cum",
      sum("cnt").over(Window.orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val thr = cum
      .crossJoin(hist.agg(sum(col("cnt")).as("n")))
      .agg(min(when(col("cum") >= expr("(9 * n + 9) DIV 10"), col("lo")))
        .as("b9"))
    val out = shifted.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_tok"), col("dsir_q4"),
        (col("sv") >= col("b9")).as("keep"))
      .orderBy("doc_id")
    Materialize.releaseAfter(out, tokP, wP)
  }

  /** PageRank centrality over the kNN graph (`curate_centrality`) —
    * the graph-authority signal a curation pipeline uses to pick
    * REPRESENTATIVE documents (a vector many neighborhoods point at is
    * central to its region; isolated tails rank low): power iteration
    * with damping 0.85 over the staged probed-kNN graph, every vector a
    * node, its k out-edges the probe result.
    *
    * Portability: ranks live in integer micro-units (1e6 = 1.0), each
    * step is `150000 + (Σ_in (r DIV outdeg) · 85) DIV 100` — integer
    * sums are shuffle-order-independent and both engines truncate
    * positive division identically, so after [[CentralityIters]] fixed
    * iterations the whole table (ranks AND positions) hash-matches the
    * DuckDB replay. No floats anywhere, hence no convergence test —
    * fixed iteration count IS the contract (production PageRank at this
    * damping is within ~1% after 5 rounds on bounded-degree graphs).
    *
    * Scale shape: textbook Pregel-on-a-join — per iteration one shuffle
    * join of the rank table onto the edge list (both keyed by vec_id;
    * co-partitioned at scale) and one map-side-combined groupBy on the
    * destination. The graph is the staged pipeline artifact
    * ([[Similarity.stagedKnnGraph]]), built once per corpus; iteration
    * cost is linear in |E| = k·N with no growth in state. The closing
    * leaderboard is a top-[[CentralityTopK]] via orderBy+limit
    * (TakeOrderedAndProject — per-partition partial top-K), never a
    * global row_number over all N nodes.
    */
  val CentralityIters = 5
  val CentralityTopK = 100

  def centrality(s: SparkSession, dir: String,
      iters: Int = CentralityIters): DataFrame = {
    val g = Similarity.stagedKnnGraph(s, dir)
      .select(col("vec_id"), col("nbr_id"))
    // fold the out-degree into the edge list ONCE (one shuffle up
    // front, none per round), materialized eagerly: it is the loop's
    // join probe every round
    val w = Window.partitionBy("vec_id")
    val ge = g.withColumn("outd", count(lit(1)).over(w))
      .localCheckpoint(true)
    // r17 (guide §1.2, the connectedComponents precedent): the 5-round
    // power iteration was one lazy ~15-exchange plan, and under AQE each
    // exchange materializes as its own scheduler job — profiled at 60
    // jobs / 60 tasks / 2.0-2.6 s Σ task time for a 2.2-2.5 s wall: pure
    // job-submission overhead, not compute. The loop now materializes
    // each round eagerly (localCheckpoint) in a scoped loop with AQE off
    // and the shuffle width pinned to the MEASURED edge count (the same
    // size-adaptive formula as the CC loop — the count is O(1) on the
    // checkpointed edge list), so each round is ONE job over a
    // graph-sized shuffle at any scale. The leaderboard runs on the
    // caller's session, at session width with AQE. The rank table
    // always carries exactly the node set (the left join preserves it),
    // so re-deriving `nodes` per round is unnecessary.
    val edgeCount = ge.count()
    val p = math.max(1L, math.min(edgeCount / 10000L,
      s.sessionState.conf.numShufflePartitions.toLong)).toInt
    val rankFinal = Materialize.scopedLoop(ge, p) { ge =>
      var rank = ge.select("vec_id").distinct()
        .withColumn("r", lit(1000000L))
        .localCheckpoint(true)
      for (_ <- 1 to iters) {
        val contrib = ge.join(rank, "vec_id")
          .select(col("nbr_id").as("vec_id"), expr("r DIV outd").as("c"))
          .groupBy("vec_id").agg(sum(col("c")).as("insum"))
        rank = rank.select("vec_id").join(contrib, Seq("vec_id"), "left")
          .select(col("vec_id"),
            (lit(150000L) +
              expr("(coalesce(insum, 0L) * 85) DIV 100")).as("r"))
          .localCheckpoint(true)
      }
      rank
    }
    val scores = rankFinal.select(col("vec_id"), col("r").as("rank_u"))
    // leaderboard positions only for the top-K: orderBy+limit plans as
    // TakeOrderedAndProject (per-partition partial top-K, no global
    // single-partition window over the node set); the row_number then
    // runs over the <=K-row frame and the K-row leaderboard broadcasts
    // back onto the full score table. Every node keeps its exact
    // rank_u; crank is null off the leaderboard.
    val top = scores
      .orderBy(col("rank_u").desc, col("vec_id").asc)
      .limit(CentralityTopK)
      .withColumn("crank", row_number().over(
        Window.orderBy(col("rank_u").desc, col("vec_id").asc)))
      .select("vec_id", "crank")
    // nothing persisted to release: the loop's checkpointed frames are
    // reclaimed by the ContextCleaner once unreferenced
    scores.join(broadcast(top), Seq("vec_id"), "left")
      .orderBy("vec_id")
  }

  /** Deterministic rejection sampling (`curate_rejection_sample`) — the
    * apply step of importance weighting: accept each doc with
    * probability ∝ its weight, here inverse length (flattening the
    * length bias a char-budget crawl induces). Acceptance is a pure
    * per-row predicate — scramble(doc_id) uniform in [0,10000) compared
    * to the weight in basis points — so the sample is reproducible,
    * shuffle-free, map-only, and (unlike reservoir or sort-based
    * sampling) needs no global state at any corpus size. The same
    * mechanism applies any weight column (e.g. [[dsir]] scores).
    */
  def rejectionSample(s: SparkSession, dir: String): DataFrame = {
    val P = 1073741789L
    val u = (col("doc_id") % P) * 2654435761L % P % 10000L
    docs(s, dir)
      .filter(col("n_chars") > 0)
      .withColumn("w_bp", least(lit(9999L), expr("2000000 DIV n_chars")))
      .filter(u < col("w_bp"))
      .select(col("doc_id"), col("n_chars"), col("w_bp"))
      .orderBy("doc_id")
  }

  /** Curriculum schedule (`curate_curriculum`) — order the corpus
    * easy → hard and cut it into training phases: each doc gets an
    * integer difficulty (mean word length ×100 — the proven portable
    * proxy; swap in any hash-gated score), a phase from exact
    * difficulty-histogram boundaries, and its serving position within
    * the phase.
    *
    * Scale shape (the 100 TB plan, not a stand-in): NO corpus-wide
    * window anywhere. The exact difficulty histogram is one map-side-
    * combined groupBy bounded by DISTINCT integer difficulties (a few
    * thousand values regardless of corpus size); cumulative counts and
    * phase ids derive on that tiny frame; the per-doc phase and
    * position come from a broadcast map join + a row_number
    * partitioned by DIFFICULTY VALUE (thousands of balanced groups,
    * never 5 giant phase partitions): position = docs-before-my-
    * difficulty-in-phase (from the histogram) + my rank among equal
    * difficulties. Whole-value phases: equal difficulties never
    * straddle a phase boundary (ntile would split ties arbitrarily —
    * this is the better semantics AND the scalable one). All-integer
    * arithmetic, so the schedule hash-matches the oracle's replay.
    */
  def curriculum(s: SparkSession, dir: String, phases: Int = 5): DataFrame = {
    val base = docs(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        col("n_chars"))
      .withColumn("diff_x100", expr("(n_chars * 100) DIV n_tokens"))
    // windows below run over the AGGREGATED histogram (distinct
    // difficulty values), never the corpus
    val wBefore = Window.orderBy("diff_x100")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy("diff_x100")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val hist = base.groupBy("diff_x100").agg(count(lit(1)).as("cnt"))
      .withColumn("cum_before",
        coalesce(sum("cnt").over(wBefore), lit(0L)))
      .withColumn("total", sum("cnt").over(wAll))
      .withColumn("phase",
        expr(s"CAST(1 + (cum_before * $phases) DIV total AS INT)"))
    val pstart = hist.groupBy("phase")
      .agg(min("cum_before").as("phase_start"))
    val dmap = hist.join(pstart, "phase")
      .select("diff_x100", "phase", "cum_before", "phase_start")
    val wDiff = Window.partitionBy("diff_x100").orderBy("doc_id")
    base
      .withColumn("rn", row_number().over(wDiff))
      .join(broadcast(dmap), "diff_x100")
      .withColumn("pos_in_phase",
        (col("cum_before") - col("phase_start") + col("rn")).cast("int"))
      .select(col("doc_id"), col("n_tokens"), col("diff_x100"),
        col("phase"), col("pos_in_phase"))
      .orderBy("doc_id")
  }
}
