package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{ColumnBridge, Hashes}
import graft.operators.{Ann, ContainmentJoin, Contamination, CorpusMix, DedupPipeline, DupSpans, JaccardJoin, MinHashLsh, SemanticDedup, SeqPack, SimHash, StopGrams}

/** Training-corpus curation and deduplication over `documents` /
  * `embeddings`: exact, MinHash, SimHash, winnowing, embedding, Jaccard,
  * containment and edit-distance near-dup detection, text quality and
  * PII stages, corpus mixing, packing and resharding, each oracle-checked
  * where SQL-expressible.
  *
  * The synthetic corpus has no true near-duplicates, so the dedup queries
  * first augment it with deterministic perturbed copies (drop the first
  * word; id + 1,000,000) — reproducible on the DuckDB side — so the
  * near-dup output is non-vacuous and every pipeline stage is exercised.
  */
object Corpus extends QueryModule {

  /** documents ∪ first-word-dropped copies of the longer docs. */
  private[queries] def augmentedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val perturbed = docs
      .filter(col("n_chars") >= 100)
      .select(
        (col("doc_id") + 1000000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
    docs.select("doc_id", "text").unionByName(perturbed)
  }

  private[queries] val augmentedSql =
    """aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, substr(text, strpos(text, ' ') + 1)
      |  FROM documents WHERE n_chars >= 100)""".stripMargin

  /** q18: banded MinHash-LSH near-dup pairs, exact-Jaccard verified.
    * 32 bands × 2 rows: P(miss | J ≥ 0.8) ≈ 1e-14, so the output equals
    * the oracle's exhaustive all-pairs scan, but computed without ever
    * joining document text against itself. */
  def q18MinhashNearDup(s: SparkSession, dir: String): DataFrame =
    // No final orderBy: a global sort range-partitions, whose sampling
    // pass re-executes the whole LSH pipeline (~2× cost); the correctness
    // gate is row-order-insensitive.
    MinHashLsh.nearDupPairs(augmentedDocs(s, dir), "doc_id", "text",
        shingleK = 3, numHashes = 64, bands = 32, minJaccard = 0.8)

  /** Occurrences of a space-padded keyword via replace-length arithmetic
    * (identical non-overlapping left-to-right semantics in Spark and
    * DuckDB — no regex dialect risk). */
  private def occ(padded: Column, kw: String): Column =
    ((length(padded) - length(regexp_replace(padded, java.util.regex.Pattern.quote(kw), ""))) /
      kw.length).cast("long")

  /** q20: language-ID heuristic — stopword-hit scores per language,
    * argmax with fixed priority. */
  def q20LangId(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val padded = concat(lit(" "), col("text"), lit(" "))
    val sEn = occ(padded, " the ") + occ(padded, " and ")
    val sDe = occ(padded, " der ") + occ(padded, " und ")
    val sFr = occ(padded, " le ") + occ(padded, " et ")
    val sEs = occ(padded, " el ") + occ(padded, " y ")
    docs.select(
        col("doc_id"),
        sEn.as("s_en"), sDe.as("s_de"), sFr.as("s_fr"), sEs.as("s_es"))
      .withColumn("lang_guess",
        when(col("s_en") >= greatest(col("s_de"), col("s_fr"), col("s_es")), "en")
          .when(col("s_de") >= greatest(col("s_fr"), col("s_es")), "de")
          .when(col("s_fr") >= col("s_es"), "fr")
          .otherwise("es"))
  }

  /** q21: quality scoring — token counts, lexical diversity, average
    * token length, accept flag. */
  def q21TextQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val toks = split(col("text"), " ")
    docs.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"))
      .withColumn("diversity",
        round(col("n_distinct").cast("double") / col("n_tokens"), 6))
      .withColumn("avg_token_len",
        round((col("n_chars_m") - (col("n_tokens") - 1)).cast("double") /
          col("n_tokens"), 6))
      .withColumn("quality_ok",
        col("n_tokens") >= 5 && col("n_tokens") <= 1000 && col("diversity") >= 0.05)
  }

  /** q22: token counting per language — whitespace tokens and a BPE-ish
    * regex tokenizer ([a-z]+ | digits | single punct). */
  def q22TokenCount(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    docs.select(
        col("lang"),
        size(split(col("text"), " ")).cast("long").as("ws_toks"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast("long").as("re_toks"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws_toks")).as("sum_ws_toks"),
        sum(col("re_toks")).as("sum_re_toks"))
      .withColumn("avg_ws_toks",
        round(col("sum_ws_toks").cast("double") / col("n_docs"), 6))
      .orderBy("lang")
  }

  /** q35: repetition scoring (Gopher-style quality signal): the fraction
    * of all word bigrams taken by the single most frequent bigram — high
    * values flag boilerplate/looping text. Non-distinct bigrams via
    * transform over index sequences (WordShingles dedups, so it can't be
    * used here); two partial-agg shuffles of (doc, gram-hash) — the gram
    * itself is hashed to 8 bytes before the wire. */
  def q35Repetition(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val w = split(col("text"), " ")
    val grams = transform(sequence(lit(1), size(w) - 1),
      i => concat_ws(" ", element_at(w, i), element_at(w, i + 1)))
    docs
      // guard like NgramLm: an unguarded sequence(1, 0) counts DOWN to
      // [1, 0] for a one-token doc and element_at(w, 0) throws; the
      // null explodes to no rows, matching the oracle's empty
      // generate_series
      .select(col("doc_id"),
        explode(when(size(w) >= 2, grams)).as("__gram"))
      // 8-byte fingerprint crosses the shuffle, never the gram text
      .select(col("doc_id"), Hashes.xxhash64Seed0(col("__gram")).as("__g"))
      .groupBy("doc_id", "__g").agg(count(lit(1)).as("__n"))
      .groupBy("doc_id").agg(
        sum(col("__n")).as("n_bigrams"),
        max(col("__n")).as("top_bigram_n"))
      .withColumn("top_frac",
        round(col("top_bigram_n").cast("double") / col("n_bigrams"), 6))
      .withColumn("repetitive", col("top_frac") >= 0.18)
  }

  /** q36: PII extraction — emails and phone-shaped tokens pulled with
    * fixed regexes from a deterministic rendered line (the corpus is
    * synthetic, so PII is planted the same way q27 plants entities);
    * pure map, regex dialect shared by Spark and the DuckDB oracle. */
  /** The planted contact line shared by q36 (extraction) and q52
    * (redaction, which appends an IP segment) — ONE definition so the
    * two queries and their hand-written oracles always describe the
    * same plant. */
  private def contactLine: org.apache.spark.sql.Column = concat(
    lit("user "), col("user_id"), lit(" contact "),
    col("event_type"), col("user_id"), lit("@example.com"),
    lit(" or "), col("event_type"), lit("_admin@corp.io tel "),
    pmod(col("user_id"), lit(900)) + 100, lit("-"),
    pmod(col("user_id") * 7, lit(9000)) + 1000)

  def q36PiiExtract(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.parallel(s, dir, "events")
    val line = contactLine
    // single-sourced from the redaction rules so extraction (q36) and
    // redaction (q52) can never disagree on what an email is
    val emails = regexp_extract_all(line,
      lit(graft.operators.PiiRedact.EmailRule._1), lit(0))
    // single-sourced from the redaction rule so extraction (q36) and
    // redaction (q52) can never disagree on what a phone is
    val phones = regexp_extract_all(line,
      lit(graft.operators.PiiRedact.PhoneRule._1), lit(0))
    events.select(
      col("event_id"),
      element_at(emails, 1).as("email_1"),
      element_at(emails, 2).as("email_2"),
      element_at(phones, 1).as("phone"),
      (size(emails) + size(phones)).cast("long").as("n_pii"))
  }

  /** q23: document fingerprinting — 128-bit hash of the normalized
    * text as the dedup key, so the distinct-shuffle carries 16 bytes
    * per doc instead of the document body (widened from one xxhash64
    * word per r16 directive #1 — at 10¹⁰ docs the 64-bit birthday
    * bound merges ~2.7 distinct texts and the count drifts from the
    * oracle's count-distinct-by-text; the null-guard matches the
    * oracle's NULL-ignoring count). */
  def q23Fingerprint(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    docs
      .withColumn("fp", when(col("text").isNotNull,
        Hashes.fingerprint128(lower(trim(col("text"))))))
      .groupBy("source")
      .agg(
        countDistinct(col("fp")).as("n_unique"),
        count(lit(1)).as("n_docs"))
      .orderBy("source")
  }

  /** q24: SimHash-blocked near-dup. Signatures are over 3-gram shingles,
    * not unigrams — the synthetic corpus shares a tiny vocabulary, so
    * unigram signatures would cluster and the band join would degenerate
    * toward all-pairs at scale. Banded 16-bit blocking, Hamming ≤ 12,
    * exact shingle-Jaccard ≥ 0.5 verification.
    *
    * Oracle: read-back. The signature/blocking path is not
    * SQL-expressible, and making it so would require ≤4-bit bands (the
    * pigeonhole guarantee needs bands > maxHamming), whose ≤16-value
    * keys degenerate to near-all-pairs buckets at scale — so instead
    * Verify copies this result to a fixed path and DuckDB re-derives the
    * verifiable part from raw `documents`: each returned pair's ids must
    * exist in the corpus (the join drops fabricated ids → row-count
    * mismatch) and its exact shingle-Jaccard is recomputed and
    * re-thresholded (dishonest similarity or a sub-0.5 pair → hash/row
    * mismatch). `hamming` is echoed, not recomputed — its semantics are
    * pinned by NearDupSpec; blocking recall (469/560 truth pairs at
    * sf0.01, the Hamming≤12 cut on an approximate blocker) is pinned by
    * the same spec rather than the oracle. */
  def q24SimhashNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = augmentedDocs(s, dir)
    // signature once per doc, in its own projection (multi-referenced
    // non-cheap alias → not collapsed); only (id, sig) ever shuffles —
    // 16 bytes/row/band, never document text
    val sigs = docs.select(col("doc_id"),
      SimHash.simhashText(col("text"), 3).as("sig"))
    val bands = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("sig"), b * 16).bitwiseAND(lit(0xffffL)).as("key"))
    }
    val bucketed = sigs
      .select(col("doc_id"), col("sig"), explode(array(bands: _*)).as("bb"))
    // ONE shuffle on the band key; candidate generation + Hamming verify
    // fused in-bucket (HammingPairs — a lazy Generator, so only
    // surviving pairs are ever allocated and buckets stream)
    val pairs = ColumnBridge.col(graft.functions.HammingPairs(
      ColumnBridge.expr(col("__members")), maxHamming = 12))
    val cands = bucketed
      .groupBy(col("bb"))
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("__members"))
      .filter(size(col("__members")) > 1)
      .select(pairs.as(Seq("id_a", "id_b", "hamming")))
      .dropDuplicates("id_a", "id_b")
    // exact shingle-Jaccard verification joins text for CANDIDATES only
    val rawA = docs.select(col("doc_id").as("id_a"), col("text").as("__t_a"))
    val rawB = docs.select(col("doc_id").as("id_b"), col("text").as("__t_b"))
    cands
      .join(rawA, "id_a").join(rawB, "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"),
        MinHashLsh.shingleJaccard(col("__t_a"), col("__t_b"), 3).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** q25: embedding-cosine near-dup — label-blocked pairs with µ-rounded
    * cosine ≥ 0.999 (scaled copies keep direction → cosine 1). The
    * label-free scale path is q33 ([[Ann.embedNearDupLsh]]). */
  def q25EmbedNearDup(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.parallel(s, dir, "embeddings")
    val scaled = emb.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * 2).as("embedding"),
      col("label"))
    val corpus = emb.select("vec_id", "embedding", "label").unionByName(scaled)
    val a = corpus.select(col("vec_id").as("id_a"),
      Ann.toDoubleArray(col("embedding")).as("va"), col("label"))
    val b = corpus.select(col("vec_id").as("id_b"),
      Ann.toDoubleArray(col("embedding")).as("vb"), col("label").as("label_b"))
    a.join(b, col("label") === col("label_b") && col("id_a") < col("id_b"))
      .withColumn("cos", round(Ann.cosine(col("va"), col("vb")), 6))
      .filter(col("cos") >= 0.999)
      .select("id_a", "id_b", "label", "cos")
  }

  /** q31: winnowing (rolling-hash) near-dup candidates — the MOSS-style
    * third blocking scheme next to MinHash (q18) and SimHash (q24): any
    * pair sharing a substring of ≥ window+k-1 chars shares a
    * fingerprint, so candidates = pairs with ≥ `minShared` common
    * fingerprints. Same one-shuffle shape as the LSH bucket pass: the
    * wire carries (fingerprint, doc_id), never text. Fingerprints shared
    * by > 32 docs are stop-gram buckets (common boilerplate) and are
    * dropped, the standard winnowing-at-scale guard against quadratic
    * pair blowup.
    *
    * Oracle: read-back. The rolling-hash fingerprints are not
    * SQL-expressible (the shared-substring guarantee is pinned by
    * WinnowingSpec), so DuckDB reads the candidate pairs back from a
    * fixed path, verifies both ids exist in the corpus, and recomputes
    * each pair's shingle-Jaccard — `shared_fps` is echoed, `jaccard`
    * (emitted here for exactly this purpose) must match an honest
    * recomputation from raw text. */
  def q31WinnowNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = augmentedDocs(s, dir)
    val fp = ColumnBridge.col(graft.functions.WinnowFingerprints(
      ColumnBridge.expr(col("text")), k = 12, window = 8))
    val pairs = ColumnBridge.col(graft.functions.SortedPairs(
      ColumnBridge.expr(col("__ids"))))
    val cands = docs
      .select(col("doc_id").as("__id"), explode(fp).as("__fp"))
      .groupBy("__fp").agg(collect_list(col("__id")).as("__ids"))
      .filter(size(col("__ids")).between(2, 32))
      .select(pairs.as(Seq("id_a", "id_b")))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= 3)
    // text joined for candidates only — the oracle recomputes this
    // jaccard per returned pair, making the pair list driver-checkable
    val rawA = docs.select(col("doc_id").as("id_a"), col("text").as("__t_a"))
    val rawB = docs.select(col("doc_id").as("id_b"), col("text").as("__t_b"))
    cands
      .join(rawA, "id_a").join(rawB, "id_b")
      .select(col("id_a"), col("id_b"), col("shared_fps"),
        MinHashLsh.shingleJaccard(col("__t_a"), col("__t_b"), 3).as("jaccard"))
  }

  /** q33: embedding near-dup via hyperplane LSH — the label-free scale
    * path beside q25's label-blocked variant. Oracle: exhaustive
    * all-pairs cosine scan (valid because scaled copies have provably
    * identical signatures — FP scaling preserves every dot sign — and
    * the fixture has zero natural cos ≥ 0.999 pairs, verified). */
  def q33EmbedNearDupLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.parallel(s, dir, "embeddings")
    val scaled = emb.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * 2).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(scaled)
    Ann.embedNearDupLsh(corpus, "vec_id", "embedding", minCos = 0.999)
  }

  /** q32: cluster-level dedup — connected-component representative
    * (min id) for every doc in the verified q18 near-dup pair graph,
    * via iterative min-label propagation over (id, id) longs. The
    * oracle recomputes the exhaustive pair graph AND the exact
    * transitive closure with a recursive CTE — a genuinely full
    * correctness check of the component assignment. */
  def q32ClusterDedup(s: SparkSession, dir: String): DataFrame = {
    val pairs = q18MinhashNearDup(s, dir).select("id_a", "id_b")
    graft.operators.ClusterDedup.clusterReps(pairs)
  }

  /** q37: benchmark decontamination — distinct 4-word-gram overlap of
    * every training-split doc (doc_id % 20 != 0) against the held-out
    * benchmark split (doc_id % 20 == 0). The operator
    * ([[graft.operators.Contamination.ngramOverlap]]) broadcasts the
    * distinct benchmark gram set and probes the corpus in one pass, so
    * its only shuffle is the per-doc hit count — the shape that holds
    * when the training side is 100 TB and the eval set is thousands of
    * docs. Oracle: fully SQL-expressible (DuckDB re-derives both splits'
    * gram sets and the per-doc overlap counts from raw text). */
  def q37Contamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    Contamination.ngramOverlap(
      docs.filter(col("doc_id") % 20 =!= 0),
      docs.filter(col("doc_id") % 20 === 0),
      "doc_id", "text", k = 4)
  }

  /** q38: the full dedup stage as a user runs it — exact dedup, then
    * near-dup cluster dedup over the exact survivors, one verdict row
    * per doc ([[graft.operators.DedupPipeline.corpusVerdict]]). The
    * corpus plants both duplicate kinds: perturbed copies (+1M, first
    * word dropped → near_dup) and verbatim copies (+2M → exact_dup).
    * Oracle: fully SQL-expressible — DuckDB re-derives the exact groups
    * by raw text, the exhaustive jaccard pair graph over survivors, and
    * the exact transitive closure (recursive CTE, as in q32). */
  def q38DedupCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val verbatim = docs.filter(col("n_chars") >= 100)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    val corpus = augmentedDocs(s, dir).unionByName(verbatim)
    DedupPipeline.corpusVerdict(corpus, "doc_id", "text",
      shingleK = 3, numHashes = 64, bands = 32, minJaccard = 0.8)
  }

  /** q39: corpus mixing — deterministic stratified over/undersampling
    * by source ([[graft.operators.CorpusMix.mix]]): weights cycle
    * {0.0, 0.5, 1.0, 2.5} over the source index, bucket = doc_id % 1000
    * (a plain modulus keeps the oracle exact; production mixes hash).
    * Map-side broadcast join + explode, zero shuffles. */
  /** The 20-source weight dim shared by q39 and q41/q46's mix stage —
    * one definition so the two mixes (and the oracles that re-encode
    * the same {0.0, 0.5, 1.0, 2.5} cycle in SQL) cannot drift apart. */
  private def mixWeights(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.tabulate(20) { i =>
      ("src" + i, Seq(0.0, 0.5, 1.0, 2.5)(i % 4))
    }.toDF("source", "weight")
  }

  def q39CorpusMix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    CorpusMix.mix(docs, mixWeights(s), "source",
        pmod(col("doc_id"), lit(1000)))
      .select("doc_id", "source", "copy")
  }

  /** q40: Gopher/C4-style quality-filter battery — the composite
    * rule-based document filter a pipeline applies before training:
    * every rule is a named boolean column (auditable, so a corpus owner
    * can see WHICH rule killed a doc, not just that one did) and `pass`
    * is their conjunction. Pure map over the corpus scan — no shuffle,
    * no UDF, all rules are codegen-able column expressions. */
  def q40QualityFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val toks = split(col("text"), " ")
    val nWords = size(toks).cast("long")
    val meanLen = round((length(col("text")) - (nWords - 1))
      .cast("double") / nWords, 6)
    val diversity = round(size(array_distinct(toks)).cast("double") / nWords, 6)
    docs.select(
        col("doc_id"),
        nWords.as("n_words"),
        meanLen.as("mean_word_len"),
        diversity.as("diversity"),
        arrays_overlap(toks,
          array(lit("the"), lit("a"), lit("and"))).as("stop_ok"))
      .withColumn("n_words_ok", col("n_words").between(50, 10000))
      .withColumn("word_len_ok", col("mean_word_len").between(3.0, 10.0))
      .withColumn("diversity_ok", col("diversity") >= 0.1)
      .withColumn("pass",
        col("n_words_ok") && col("word_len_ok") &&
          col("diversity_ok") && col("stop_ok"))
  }

  /** q41: the full corpus-build DAG as ONE query — what a user actually
    * runs to turn raw documents into a training mix:
    *
    *   quality gate (q40 rules) → dedup verdicts (q38: exact → near →
    *   components) → benchmark decontamination (q37: drop any train doc
    *   sharing a 4-gram with the held-out split) → corpus mixing (q39
    *   weights) → (doc_id, source, copy).
    *
    * The corpus plants work for every stage: perturbed (+1M) and
    * verbatim (+2M) copies exercise near/exact dedup, and copies of
    * held-out docs land in the train split where only decontamination
    * can catch them. Every stage keeps its standalone plan shape (the
    * composition adds no new shuffle beyond its parts); the oracle
    * re-derives the whole DAG in SQL, recursive-CTE closure included. */
  /** The q41/q46 corpus: documents ∪ perturbed (+1M) ∪ verbatim (+2M). */
  private def buildCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    docs.select(col("doc_id"), col("text"), col("source"))
      .unionByName(docs.filter(col("n_chars") >= 100).select(
        (col("doc_id") + 1000000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"),
        col("source")))
      .unionByName(docs.filter(col("n_chars") >= 100).select(
        (col("doc_id") + 2000000L).as("doc_id"), col("text"), col("source")))
  }

  def q41CorpusBuild(s: SparkSession, dir: String): DataFrame =
    q41FromCorpus(s, stagedCorpus(s, dir))

  /** The staged (lazily materialized) q41/q46 corpus: the union is
    * consumed by three downstream stages (bench split, quality-gated
    * train split, kept-doc join-back), and without a lineage cut each
    * consumer re-runs the scan+union subtree — with the expensive
    * quality-gate predicate (tokenize + array_distinct) predicate-pushed
    * below the fan-out repartition, i.e. single-task on the unsplittable
    * testdata file (r19 stage profile: nine ~0.3-0.5 s one-task stages
    * per q41 run, three per consumer). The lazy localCheckpoint
    * materializes the staged corpus once, at the union's full width; at
    * warehouse scale this is the standard "stage the raw+perturbed
    * corpus once" materialization the DAG's survivor checkpoints already
    * make. Lazy, not eager: the first consumer's job materializes it —
    * no separate call-time job. */
  private def stagedCorpus(s: SparkSession, dir: String): DataFrame =
    buildCorpus(s, dir).localCheckpoint(false)

  private def q41FromCorpus(s: SparkSession, corpus: DataFrame): DataFrame = {
    import s.implicits._
    val isBench = col("doc_id") < 1000000L && col("doc_id") % 20 === 0
    val bench = corpus.filter(isBench)
    val train = corpus.filter(!isBench)
    // quality gate — identical rounded formulations to q40 so boundary
    // cases agree with the SQL oracle
    val toks = split(col("text"), " ")
    val nWords = size(toks).cast("long")
    val meanLen = round((length(col("text")) - (nWords - 1))
      .cast("double") / nWords, 6)
    val diversity = round(size(array_distinct(toks)).cast("double") / nWords, 6)
    val q = train.filter(
      nWords.between(50, 10000) && meanLen.between(3.0, 10.0) &&
        diversity >= 0.1 &&
        arrays_overlap(toks, array(lit("the"), lit("a"), lit("and"))))
    // dedup: keep only 'kept' verdicts. keptDocs feeds three downstream
    // branches (contamination reads it twice, the mix once) —
    // localCheckpoint it so the quality scan + LSH + component DAG
    // behind it runs once, not once per consumer
    val kept = DedupPipeline.corpusVerdict(q.select("doc_id", "text"), "doc_id", "text")
      .filter(col("kept")).select("doc_id")
    // localCheckpointWide (r19): the kept set is byte-small, so AQE pins
    // it to 1-2 partitions and the contamination gram explode — the
    // most expensive consumer — would run nearly serial
    val keptDocs = Tables.localCheckpointWide(q.join(kept, "doc_id"))
    // decontamination: any shared 4-gram with the held-out split kills
    val clean = Contamination
      .ngramOverlap(keptDocs, bench, "doc_id", "text", k = 4)
      .filter(col("n_contaminated") === 0).select("doc_id")
    CorpusMix.mix(keptDocs.join(clean, "doc_id").select("doc_id", "source"),
        mixWeights(s), "source", pmod(col("doc_id"), lit(1000)))
      .select("doc_id", "source", "copy")
  }

  /** q43: exact n-gram Jaccard threshold self-join — the deterministic
    * sibling of q18's probabilistic MinHash-LSH (lossless pre-filters,
    * no tunable miss probability), via the
    * rare-first prefix-filtered inverted index of
    * [[graft.operators.JaccardJoin]]. Deliberately the SAME parameters
    * as q18 (k=3, t=0.8): two independent algorithms — LSH blocking and
    * PPJoin exact blocking — must reproduce the identical exhaustive
    * all-pairs ground truth. (Bigrams were tried and rejected: this
    * corpus has only ~931 distinct bigrams, avg doc-frequency ~540 —
    * a gram-skew stress case that rare-first prefixes handle and that
    * trigrams' 27k-gram vocabulary sidesteps entirely.) */
  def q43JaccardNearDup(s: SparkSession, dir: String): DataFrame =
    JaccardJoin.nearDupPairs(augmentedDocs(s, dir), "doc_id", "text",
      k = 3, minJaccard = 0.8)

  /** q44: greedy concat-and-chunk sequence packing — assign every doc a
    * (pack_group, seq_id, tok_offset) slot in fixed 512-token training
    * sequences ([[graft.operators.SeqPack]]). Groups by `doc_id % G`
    * (SQL-portable stand-in for a hash group) where G is DERIVED from
    * the corpus token total ([[SeqPack.deriveNumGroups]]) — the
    * parallelism dial scales with data volume instead of serializing
    * into 8 giant cumsums at 100× — orders by doc_id: fully
    * deterministic window arithmetic (the derivation is an exact
    * integer ceil-div the oracle replays), oracle-checked end to end. */
  def q44SeqPack(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val toks = size(split(col("text"), " ")).cast("long")
    val ng = SeqPack.deriveNumGroups(docs, toks)
    SeqPack.pack(docs, "doc_id", toks,
      pmod(col("doc_id"), lit(ng.toLong)), col("doc_id"), budget = 512)
  }

  /** q45: approximate distinct-token counts per language —
    * `approx_count_distinct` (HyperLogLog++, rsd 2%) beside the exact
    * count, with an in-query relative-error audit, mirroring q42's
    * sketch-plus-audit pattern. At 100 TB the exact arm is dropped and
    * only the sketch runs: constant-size mergeable partials, map-side
    * combined, where exact count-distinct must shuffle every distinct
    * (lang, token) pair. Oracle: read-back — DuckDB recomputes the
    * exact count from the raw table and re-derives `rel_err` and
    * `within_tol` from the read-back sketch value, so a wrong approx
    * fails in the oracle, not just in Spark. */
  def q45DistinctApprox(s: SparkSession, dir: String): DataFrame =
    Tables.parallel(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang")
      .agg(
        approx_count_distinct(col("tok"), 0.02).as("approx_distinct"),
        countDistinct(col("tok")).as("exact_distinct"))
      .withColumn("rel_err",
        round(abs(col("approx_distinct") - col("exact_distinct"))
          .cast("double") / col("exact_distinct"), 6))
      .withColumn("within_tol", col("rel_err") <= 0.05)
      .orderBy("lang")

  /** q46: the corpus-build DAG carried through to its training layout —
    * quality → dedup → decontaminate → mix (q41) → **sequence packing**
    * (q44's operator): every surviving (doc, copy) instance gets a
    * deterministic (pack_group, seq_id, tok_offset) slot in fixed
    * 512-token sequences. `row_id = doc_id·8 + copy` keys each instance
    * uniquely (copies ≤ 3 < 8); the oracle re-derives the WHOLE chain —
    * recursive-CTE closure included — plus the packing windows in one
    * SQL statement. */
  def q46CorpusPack(s: SparkSession, dir: String): DataFrame = {
    // ONE staged corpus shared by the q41 chain and the token-count
    // scan (r19): a second buildCorpus here would re-run the 3-branch
    // scan+union subtree once per consumer
    val corpus = stagedCorpus(s, dir)
    val mixed = q41FromCorpus(s, corpus)
    val toks = corpus.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_toks"))
    // localCheckpoint: the survivor row set is consumed twice (the
    // group-count derivation scans it, then the pack) — without the
    // pin the whole corpus-build DAG would run once per consumer
    val rows0 = mixed.join(toks, "doc_id")
      .select((col("doc_id") * 8 + col("copy")).as("row_id"),
        col("doc_id"), col("n_toks"))
      .localCheckpoint()
    val ng = SeqPack.deriveNumGroups(rows0, col("n_toks"))
    val rows = rows0.select(col("row_id"),
      pmod(col("doc_id"), lit(ng.toLong)).as("grp"), col("n_toks"))
    SeqPack.pack(rows, "row_id", col("n_toks"), col("grp"), col("row_id"),
      budget = 512)
  }

  /** q47: semantic dedup — SemDeDup over the embedding corpus
    * ([[graft.operators.SemanticDedup]]): k-means cells as the blocking
    * scheme, in-cell cosine ≥ 0.999 pairs, connected-component min-id
    * representative per vector. Planted duplicates are the q25/q33
    * scaled copies (+1M, ×2 — cosine exactly 1 after rounding, and
    * scale-invariant cell assignment puts a copy in its original's
    * cell). Oracle: read-back — DuckDB accepts the k-means cell
    * assignment (not SQL-derivable) but re-derives EVERYTHING downstream
    * exhaustively from the raw table: all in-cell cosine pairs, the
    * recursive-CTE transitive closure, the min-id representative, and
    * both verdict columns. A wrong pair, wrong closure, or wrong
    * verdict fails the gate. */
  /** q47's corpus (embeddings ∪ double-scaled copies — cosine-identical
    * planted near-dups) and its cell count — factored out so the
    * ScaleBench stage probes ([[StageProbes]]) can time the row's
    * prefix stages against the full row. Cell COUNT scales with the
    * corpus so cell POPULATION stays fixed (~512): the in-cell
    * quadratic scan then grows linearly with data, which is the whole
    * point of clustering-as-blocking. Oracle-safe because the
    * read-back oracle accepts whatever cells were assigned. */
  private[queries] def q47Corpus(s: SparkSession, dir: String): (DataFrame, Int) = {
    val emb = Tables.parallel(s, dir, "embeddings")
    val scaled = emb.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * 2).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(scaled)
    // corpus rows = 2 × embeddings rows BY CONSTRUCTION (scaled is a 1:1
    // projection), so the cell count comes from ONE metadata-cheap count
    // of the raw parquet scan instead of executing the union + fan-out
    // repartition of both branches just to count them (r20 q47 profile:
    // the union count was two scan stages + a 64-task merge before any
    // real work)
    val nRows = 2L * Tables(s, dir, "embeddings").count()
    (corpus, math.max(8, (nRows / 512L).toInt))
  }

  def q47SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val (corpus, nCells) = q47Corpus(s, dir)
    SemanticDedup.verdicts(corpus, "vec_id", "embedding",
        minCos = 0.999, nCells = nCells,
        sampleN = math.max(2048, nCells * 64))
      .orderBy("vec_id")
  }

  /** q49: exact duplicate-span profile ([[graft.operators.DupSpans]],
    * the Lee-et-al. exact-substring dedup semantics): per augmented doc,
    * the maximal merged spans of tokens covered by a 10-gram occurring
    * ≥2 times anywhere in the corpus. The perturbed copies plant long
    * cross-doc spans; repetitive docs plant within-doc ones. Fully
    * SQL-expressible oracle: DuckDB re-derives the gram stream (by gram
    * TEXT where Spark uses the 8-byte fingerprint — equal results absent
    * a 64-bit collision), the ≥2 count, and the same gaps-and-islands
    * window merge. The synthetic corpus is template-generated, so ~96%
    * of docs carry naturally repeated 10-grams and coverage skews high
    * (L=30 still flags 80% — a corpus property, not a dial failure;
    * measured r6); DupSpansSpec pins the discriminating semantics on
    * planted fixtures. */
  def q49DupSpans(s: SparkSession, dir: String): DataFrame =
    DupSpans.profile(augmentedDocs(s, dir), "doc_id", "text", L = 10)
      .orderBy("doc_id")

  /** q50's quality-tier cutoffs (avg negative log-likelihood, nats):
    * shared literals for the Spark side and the oracle SQL so the
    * bucket comparison uses bit-identical constants. Deriving cutoffs
    * from the corpus is an offline quantile job (q29/q42); these sit
    * inside the observed nll range (3.26–3.83 across sf0.001–sf0.1,
    * tertiles ≈ 3.37–3.41) so all three tiers are populated at every
    * scale factor. */
  val perplexityHeadMax = 3.39

  val perplexityMiddleMax = 3.41

  /** q50: CCNet-shape perplexity quality scoring
    * ([[graft.operators.NgramLm]]): every document scored by an add-one
    * bigram LM trained on the corpus itself, bucketed head/middle/tail
    * by fixed nll cutoffs. Fully SQL-expressible oracle: DuckDB
    * re-derives the bigram counts (by gram TEXT where Spark uses 8-byte
    * fingerprints), the smoothed per-occurrence `ln`, the
    * DECIMAL-accumulated per-doc sum, and the same cutoff CASE. */
  def q50Perplexity(s: SparkSession, dir: String): DataFrame =
    graft.operators.NgramLm.perplexityProfile(
        Tables.parallel(s, dir, "documents"), "doc_id", "text",
        headMax = perplexityHeadMax, middleMax = perplexityMiddleMax)
      .orderBy("doc_id")

  /** q51: incremental dedup of a new batch against the persisted corpus
    * index ([[graft.operators.IncrementalDedup]]) — the daily-crawl
    * flow. New batch: perturbed (+1M → near), verbatim (+2M → exact),
    * and word-reversed (+3M → new) copies of the long docs. The index
    * is built once per JVM+sfDir (the deployment shape: index exists,
    * the daily job probes it); the timed query is the probe path.
    * Fully SQL-expressible oracle: exact via normalized-text equality,
    * near via the exhaustive new×history shingle-Jaccard scan that the
    * LSH blocking provably (1e-14) reproduces. */
  def q51IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IncrementalDedup
    val docs = Tables.parallel(s, dir, "documents")
    val hist = docs.select(col("doc_id"), col("text"))
    val long = docs.filter(col("n_chars") >= 100)
    val newBatch = long
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
      .unionByName(long.select((col("doc_id") + 2000000L).as("doc_id"),
        col("text")))
      .unionByName(long.select((col("doc_id") + 3000000L).as("doc_id"),
        concat_ws(" ", reverse(split(col("text"), " "))).as("text")))
    val idx = incrementalIndexFor(s, dir, hist)
    // no trailing orderBy (r19): the correctness gate is row-order-
    // insensitive (the driver hash-compares row-sorted frames — the q18
    // precedent) and the global sort's range-partitioning sampling pass
    // re-executes the verdict join subtree, ~doubling the probe.
    IncrementalDedup.dedupNew(s, newBatch, hist, "doc_id", "text", idx)
  }

  /** One index build per (JVM, sfDir): q51's bench-timed region is the
    * daily probe, not the one-time index build it amortizes. */
  private val incrementalIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def incrementalIndexFor(
      s: SparkSession, dir: String, hist: DataFrame): String =
    incrementalIndexes.computeIfAbsent(dir, { _ =>
      val p = java.nio.file.Files
        .createTempDirectory("graft_incdedup").toString
      graft.operators.IncrementalDedup.writeIndex(hist, "doc_id", "text", p)
      p
    })

  /** q52: PII redaction ([[graft.operators.PiiRedact]]) — the write
    * side of q36's extraction over the same planted event lines, plus
    * an IPv4 segment so all three rule types fire. The oracle doesn't
    * run regexes at all: it constructs the expected redacted line
    * directly from the planted layout, so any over- or under-match by
    * the Spark regex fold breaks string equality on every row. */
  def q52PiiRedact(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.PiiRedact
    val events = Tables.parallel(s, dir, "events")
    val line = concat(contactLine,
      lit(" src 10."), pmod(col("user_id"), lit(256)), lit(".0."),
      pmod(col("user_id") * 3, lit(256)))
    events.select(col("event_id"),
        PiiRedact.redact(line).as("redacted"),
        PiiRedact.redactionCount(line).as("n_redacted"))
      .orderBy("event_id")
  }

  /** q53: deterministic corpus reshard ([[graft.operators.Reshard]]):
    * seed-42 hash order into 32 shards. Read-back oracle: the hash is
    * echoed (pinned against official vectors by HashesSpec), and DuckDB
    * re-derives shard = pmod(h, 32) and pos = row_number by (h, id)
    * from it, anchored on `documents` via a LEFT join so a missing or
    * fabricated id breaks the row count. */
  def q53Reshard(s: SparkSession, dir: String): DataFrame =
    graft.operators.Reshard.reshard(
        Tables.parallel(s, dir, "documents"), "doc_id",
        nShards = 32, seed = 42L)
      .orderBy("shard", "pos")

  /** Exhaustive all-pairs k-gram Jaccard ground truth — ONE definition
    * shared by q18 (MinHash-LSH), q43 (exact PPJoin), and q114's
    * Zipf-hot skew gate, so every blocking algorithm is
    * cross-validated against the identical oracle shape. `corpusCte`
    * must define an `aug(doc_id, text)` CTE body. */
  private[queries] def exactJaccardPairsSql(k: Int, threshold: String,
      corpusCte: String = augmentedSql): String = {
    val split = "string_split(text, ' ')"
    val gram = (0 until k)
      .map(j => if (j == 0) s"$split[i]" else s"$split[i+$j]")
      .mkString(" || ' ' ||\n           ")
    s"""WITH $corpusCte,
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      generate_series(1, len($split) - ${k - 1}),
      |      i -> $gram)) AS s
      |  FROM aug),
      |sh2 AS (SELECT * FROM sh WHERE len(s) > 0)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |    len(list_distinct(list_concat(a.s, b.s))) AS jaccard
      |FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |    len(list_distinct(list_concat(a.s, b.s))) >= $threshold
      |ORDER BY id_a, id_b""".stripMargin
  }

  /** Shared WITH-chain of the corpus-build DAG oracle (quality gate →
    * exact dedup → transitive near-dup closure → decontamination → mix
    * copy counts), ending at CTE `n` — q41 appends the mix expansion,
    * q46 continues through token counts and the packing windows. */
  private lazy val corpusBuildSqlPrefix: String =
      """WITH RECURSIVE
        |corpus AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, substr(text, strpos(text, ' ') + 1), source
        |  FROM documents WHERE n_chars >= 100
        |  UNION ALL
        |  SELECT doc_id + 2000000, text, source FROM documents
        |  WHERE n_chars >= 100),
        |train AS (SELECT * FROM corpus
        |          WHERE NOT (doc_id < 1000000 AND doc_id % 20 = 0)),
        |q AS (
        |  SELECT doc_id, text, source FROM (
        |    SELECT doc_id, text, source,
        |      CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
        |      round(CAST(length(text) - (len(string_split(text,' ')) - 1)
        |        AS DOUBLE) / len(string_split(text,' ')), 6) AS mwl,
        |      round(CAST(len(list_distinct(string_split(text,' ')))
        |        AS DOUBLE) / len(string_split(text,' ')), 6) AS dv,
        |      list_has_any(string_split(text,' '), ['the','a','and']) AS stop_ok
        |    FROM train)
        |  WHERE n_words BETWEEN 50 AND 10000 AND mwl BETWEEN 3.0 AND 10.0
        |    AND dv >= 0.1 AND stop_ok),
        |g AS (SELECT doc_id, text,
        |        min(doc_id) OVER (PARTITION BY lower(trim(text))) AS erep
        |      FROM q),
        |reps AS (SELECT doc_id, text FROM g WHERE doc_id = erep),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |         generate_series(1, len(string_split(text,' ')) - 2),
        |         i -> string_split(text,' ')[i] || ' ' ||
        |              string_split(text,' ')[i+1] || ' ' ||
        |              string_split(text,' ')[i+2])) AS s FROM reps),
        |sh2 AS (SELECT * FROM sh WHERE len(s) > 0),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |      FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
        |      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        |e AS (SELECT id_a AS s, id_b AS d FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach(s, d) AS (
        |  SELECT s, d FROM e
        |  UNION
        |  SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s),
        |comp AS (SELECT s AS doc_id, least(s, min(d)) AS rep
        |         FROM reach GROUP BY s),
        |near_drop AS (SELECT doc_id FROM comp WHERE doc_id <> rep),
        |kept AS (SELECT r.doc_id, r.text FROM reps r
        |         LEFT JOIN near_drop nd ON nd.doc_id = r.doc_id
        |         WHERE nd.doc_id IS NULL),
        |bw AS (SELECT string_split(text,' ') AS w FROM corpus
        |       WHERE doc_id < 1000000 AND doc_id % 20 = 0),
        |bg AS (SELECT DISTINCT array_to_string(w[i:i+3],' ') AS gram
        |       FROM bw, UNNEST(range(1, greatest(len(w)-2,1))) AS t(i)),
        |kw AS (SELECT doc_id, string_split(text,' ') AS w FROM kept),
        |kg AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+3],' ') AS gram
        |       FROM kw, UNNEST(range(1, greatest(len(w)-2,1))) AS t(i)),
        |contam AS (SELECT DISTINCT doc_id FROM kg JOIN bg USING(gram)),
        |clean AS (SELECT k.doc_id FROM kept k
        |          LEFT JOIN contam c ON c.doc_id = k.doc_id
        |          WHERE c.doc_id IS NULL),
        |wt AS (SELECT 'src' || CAST(i AS VARCHAR) AS source,
        |         CAST(CASE i % 4 WHEN 0 THEN 0.0 WHEN 1 THEN 0.5
        |              WHEN 2 THEN 1.0 ELSE 2.5 END AS DOUBLE) AS w
        |       FROM range(20) t(i)),
        |base AS (SELECT c.doc_id, q2.source FROM clean c
        |         JOIN (SELECT doc_id, source FROM q) q2 USING (doc_id)),
        |n AS (SELECT b.doc_id, b.source,
        |        CAST(floor(w) AS BIGINT) +
        |          CASE WHEN b.doc_id % 1000 < (w - floor(w)) * 1000
        |               THEN 1 ELSE 0 END AS nc
        |      FROM base b JOIN wt USING(source))""".stripMargin

  /** q57's unicode plant, keyed by doc_id % 4: decomposed accents (NFC
    * composes), compatibility-composed U+212B (NFC maps to U+00C5),
    * C0 controls (stripped), and whitespace runs (collapsed). The
    * Scala literals and the oracle's chr() concatenations must stay
    * character-for-character identical. */
  private def plantedText = concat(col("text"),
    when(pmod(col("doc_id"), lit(4)) === 0,
        lit("  Cafe\u0301 \u0007du\u000B monde "))
      .when(pmod(col("doc_id"), lit(4)) === 1,
        lit("\t\u212B Angstro\u0308m"))
      .when(pmod(col("doc_id"), lit(4)) === 2, lit(" already clean "))
      .otherwise(lit("A\u030A\u0001end")))

  // NOTE: no line may START with "||" — this fragment is re-embedded in
  // a stripMargin template, which would eat the first pipe
  private val plantedSql =
    """text || CASE
      |    WHEN doc_id % 4 = 0 THEN '  Cafe' || chr(769) || ' ' || chr(7) ||
      |      'du' || chr(11) || ' monde '
      |    WHEN doc_id % 4 = 1 THEN chr(9) || chr(8491) || ' Angstro' ||
      |      chr(776) || 'm'
      |    WHEN doc_id % 4 = 2 THEN ' already clean '
      |    ELSE 'A' || chr(778) || chr(1) || 'end' END""".stripMargin

  /** q57: corpus text canonicalization
    * ([[graft.functions.NormalizeText]]): control strip → NFC →
    * whitespace collapse → trim, one native codegen pass. Pure map —
    * no shuffle; the plant makes every branch observable on an
    * otherwise-ASCII corpus. */
  def q57TextNormalize(s: SparkSession, dir: String): DataFrame = {
    Tables.parallel(s, dir, "documents")
      .select(col("doc_id"),
        ColumnBridge.col(graft.functions.NormalizeText(
          ColumnBridge.expr(plantedText))).as("norm_text"))
      .orderBy("doc_id")
  }

  /** q58: sketched heavy hitters over word bigrams — ClickHouse `topK`
    * (SpaceSaving) as a [[graft.functions.SpaceSavingTopK]] typed
    * imperative aggregate: per-partition summaries of `capacity`
    * counters, one tiny merge at the driver-side reduce — the shape
    * that holds when the corpus has 10^12 grams but the answer is 20
    * rows. capacity=128 < the ~916-bigram vocabulary, so evictions and
    * truncating merges are genuinely exercised at every SF. The sketch
    * content is merge-order dependent, so the oracle reads the result
    * back and re-checks the SpaceSaving invariant (est − err ≤ exact ≤
    * est, term must exist) against exact DuckDB counts — any violated
    * row is filtered out and fails the hash compare. */
  def q58TopkSketch(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val grams = docs
      .select(split(col("text"), " ").as("__w"))
      .select(explode(when(size(col("__w")) >= 2,
        expr("transform(sequence(0, size(__w) - 2), " +
          "i -> concat_ws(' ', __w[i], __w[i + 1]))"))).as("gram"))
    val sk = grams.agg(ColumnBridge.col(
      graft.functions.SpaceSavingTopK(
        ColumnBridge.expr(col("gram")), capacity = 128)
        .toAggregateExpression()).as("__sk"))
    sk.select(posexplode(slice(col("__sk"), 1, 20)).as(Seq("__i", "__c")))
      .select((col("__i") + 1).cast("long").as("rank"),
        col("__c.term").as("term"), col("__c.est").as("est"),
        col("__c.err").as("err"))
      .orderBy("rank")
  }

  /** q59's corpus: documents ∪ a 35% head snippet of every long doc
    * (+4M ids) — planted doc-in-doc inclusions that Jaccard dedup
    * (q18/q43, scoring ~0.35 here) can never flag. Word arithmetic is
    * integer-exact and mirrored by the oracle. */
  private[graft] def snippetCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val w = split(col("text"), " ")
    val nTake = greatest(lit(5L), floor(size(w) * 35 / 100)).cast("int")
    docs.select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("n_chars") >= 100)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          concat_ws(" ", slice(w, lit(1), nTake)).as("text")))
  }

  /** q59: asymmetric containment self-join
    * ([[graft.operators.ContainmentJoin]]) — directed doc-in-doc pairs
    * at trigram containment ≥ 0.9. Exhaustive all-pairs DuckDB ground
    * truth (the q43 pattern): the lossless probe-prefix blocking must
    * reproduce it exactly. */
  def q59ContainmentDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.ContainmentJoin.containedPairs(
        snippetCorpus(s, dir), "doc_id", "text", k = 3, minContainment = 0.9)
      .orderBy("id_a", "id_b")

  /** q61: per-source document quota ([[graft.operators.SourceQuota]]) —
    * RefinedWeb-style "at most 15 docs per domain", selected by the
    * deterministic Knuth-hash priority. The operator's map-side bounded
    * heap must reproduce the oracle's window formulation exactly. */
  def q61SourceQuota(s: SparkSession, dir: String): DataFrame =
    graft.operators.SourceQuota.cap(
        Tables.parallel(s, dir, "documents"), "source", "doc_id", n = 15)
      .select(col("key").as("source"), col("rank"),
        col("id").as("doc_id"), col("pri"))
      .orderBy("source", "rank")

  /** q64: cross-source near-dup leakage matrix — how many exact-Jaccard
    * near-dup pairs link each source pair. The diagnostic a corpus
    * builder runs before mixing: a hot cell means two "independent"
    * sources share content (mirrors, scrapes of scrapes) and their mix
    * weights double-count it. Pair base is the EXACT PPJoin
    * ([[graft.operators.JaccardJoin]]), aggregated by normalized source
    * pair, so the matrix inherits q43's exactness — the oracle
    * recomputes it from the exhaustive all-pairs scan. The plant gives
    * each long doc a near-dup copy attributed to the NEXT source, so
    * off-diagonal cells are populated at every SF. */
  def q64SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val long = docs.filter(col("n_chars") >= 100)
    val aug = docs.select(col("doc_id"), col("text"), col("source"))
      .unionByName(long.select(
        (col("doc_id") + 1000000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"),
        concat(lit("src"), pmod(col("doc_id") + 1, lit(20))).as("source")))
    val pairs = graft.operators.JaccardJoin.nearDupPairs(
      aug.select("doc_id", "text"), "doc_id", "text", k = 3, minJaccard = 0.8)
    val src = aug.select(col("doc_id"), col("source"))
    pairs
      .join(src.as("sa"), pairs("id_a") === col("sa.doc_id"))
      .join(src.as("sb"), pairs("id_b") === col("sb.doc_id"))
      .select(
        least(col("sa.source"), col("sb.source")).as("source_a"),
        greatest(col("sa.source"), col("sb.source")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("pair_cnt"))
      .orderBy("source_a", "source_b")
  }

  /** q65: sliding-window token chunking ([[graft.operators.Chunker]]) —
    * long documents become overlapping 50-token training windows at
    * stride 40 (10-token overlap), short tails < 10 tokens dropped
    * unless they are the document's only chunk. Pure narrow projection:
    * no shuffle until the presentation `orderBy`. */
  def q65DocChunk(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunker.slidingChunks(
        Tables.parallel(s, dir, "documents"), "doc_id", "text",
        window = 50, stride = 40, minTail = 10)
      .orderBy("doc_id", "chunk_id")

  /** q66: per-source adaptive quality cut — keep each source's top 70%
    * of documents by token count (`10·rank ≤ 7·|source|`, all-integer so
    * the threshold is exact at every SF). The rank-fraction form is the
    * scale-stable way to express "per-domain quality quantile": no
    * floating-point percentile to knife-edge, one window over the
    * source partition, and skew is bounded by the largest single
    * source, not the corpus. */
  def q66QualityTopfrac(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.parallel(s, dir, "documents")
    val nTok = size(split(col("text"), " ")).cast("long")
    val bySrc = Window.partitionBy(col("source"))
    val w = bySrc.orderBy(col("n_tokens").desc, col("doc_id").asc)
    docs
      .select(col("source"), col("doc_id"), nTok.as("n_tokens"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .withColumn("__cnt", count(lit(1)).over(bySrc))
      .filter(lit(10) * col("rank") <= lit(7) * col("__cnt"))
      .select("source", "rank", "doc_id", "n_tokens")
      .orderBy("source", "rank")
  }

  /** q75's threshold: planted near-dup doc pairs sit at head edit
    * distance <= 4 while unrelated word-salad pairs start at ~37
    * (measured at sf0.01) — 8 keeps a wide margin on both sides. */
  val editDistMax = 8

  val editHeadChars = 80

  /** q75: exact edit-distance self-join over fixed-length document
    * heads ([[graft.operators.EditDistanceJoin]], Pass-Join pigeonhole
    * blocking) — the character-level near-dup detector that catches
    * small in-place edits Jaccard shingles over-penalize. Candidates
    * come from a complete segment/window hash join; only candidate
    * pairs run the banded Levenshtein. The oracle is the brute-force
    * all-pairs scan (fine at sf0.01; the operator exists precisely so
    * the corpus never pays that quadratic cost). */
  def q75EditDistJoin(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
      .filter(col("n_chars") >= editHeadChars)
      .select(col("doc_id"),
        substring(col("text"), 1, editHeadChars).as("head"))
    graft.operators.EditDistanceJoin
      .selfJoin(docs, "doc_id", "head", editDistMax)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("dist"))
      .orderBy("doc_a", "doc_b")
  }

  /** q96's temperature: α=0.5 — strong rebalancing toward uniform
    * while keeping the natural ordering of source sizes. */
  val mixAlpha = 0.5

  /** q96: temperature-balanced corpus mixing
    * ([[graft.operators.CorpusMix.temperatureWeights]] → `mix`) — the
    * multilingual/source-balancing flow: α-sampling weights derived
    * from the corpus's own source counts, fanned out by q39's
    * deterministic bucket rule. Output: per source, the original and
    * realized doc counts plus the derived weight. */
  def q96TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CorpusMix
    val docs = Tables.parallel(s, dir, "documents")
    val weights = CorpusMix.temperatureWeights(docs, "source", mixAlpha)
    val mixed = CorpusMix.mix(docs, weights, "source",
      bucket = col("doc_id") % 1000, buckets = 1000)
    val orig = docs.groupBy(col("source")).agg(count(lit(1)).as("n_orig"))
    mixed.groupBy(col("source")).agg(count(lit(1)).as("n_mixed"))
      .join(orig, "source")
      .join(weights.select(col("source"),
        round(col("weight"), 6).as("weight")), "source")
      .select("source", "n_orig", "n_mixed", "weight")
      .orderBy("source")
  }

  /** q105: quality-aware cluster dedup — keep, per q18/q32 near-dup
    * component, the LONGEST member (priority = strlen(text), ties to
    * the smallest id) instead of q32's min-id representative
    * ([[graft.operators.ClusterDedup.dedupKeepBest]]). The oracle
    * recomputes the exhaustive pair graph, the exact transitive
    * closure (q32's recursive CTE), and the per-component argmax —
    * a fully independent check that the right member of every cluster
    * survives. Output: the surviving docs (id, n_chars). Gate note:
    * the exhaustive all-pairs + closure oracle is DuckDB-expensive —
    * compare runs at sf0.01 (green); at sf0.1 the engine
    * side is sanity-pinned by the survivor ratio (4756 of ~9.9 K aug
    * docs, matching sf0.01's 476 of ~990) — the q32 oracle class. */
  def q105KeepBestDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = augmentedDocs(s, dir)
      .select(col("doc_id"), length(col("text")).as("n"))
    val pairs = q18MinhashNearDup(s, dir).select("id_a", "id_b")
    graft.operators.ClusterDedup.dedupKeepBest(docs, pairs, "doc_id",
        col("n"))
      .select(col("doc_id"), col("n").cast("long").as("n"))
      .orderBy("doc_id")
  }

  /* Skew-adversary gates (q114, q115): every
    * pair-quadratic self-join gate up to r14 planted salted NEAR-UNIFORM
    * corpora, so the skew posture — rare-first stop-gram prefixes
    * ([[graft.functions.RarestPrefix]]), the one-directional containment
    * length filter, the [[graft.functions.SkewWarn]] probes — had never
    * been demonstrated end-to-end against the input it exists for. These
    * two gates plant the crawl-scale shape: a fixed boilerplate header
    * (the "subscribe to our newsletter" banner every page of a scraped
    * site carries) on 10% of all documents, so each header trigram's
    * document frequency is ~10% of the corpus — a Zipf head key that
    * makes any frequency-blind blocking scheme quadratic on the hot
    * grams (naive gram-bucket join: ~(0.1·N)² candidate pairs from the
    * header bucket alone), while the rare-first prefix order pushes the
    * hot grams OUT of every probe prefix and keeps candidates
    * near-linear ([[graft.tools.ProfileSkew]] measures this;
    * PLANS.md "Skew-adversary decomposition" records the curve).
    *
    * Both gates are exhaustive-oracle checked: DuckDB replays the header
    * plant and scans ALL pairs, so the blocking layer must stay lossless
    * under skew, not merely fast.
    */

  /** The boilerplate banner. 12 words → 10 internal trigrams, every
    * one out of the corpus vocabulary, so hotness is exactly the
    * planted 10% and no pre-existing gram's frequency shifts. The
    * Scala literal and [[headerSqlLit]] must stay identical.
    * ([[headerWords]] derives the word count, so prose and code
    * cannot drift.) */
  private[queries] val header =
    "subscribe to our newsletter for breaking updates and exclusive daily offers now"

  /** Derived word count — the single source for gram arithmetic. The
    * require makes the doc'd 12-word/10-trigram arithmetic (and q114's
    * 9-surviving-grams claim) fail loudly if the banner literal ever
    * drifts, instead of silently invalidating the gates' hotness
    * rationale (the r15 13/11 miscount class). */
  private[queries] val headerWords: Int = header.split(" ").length
  require(headerWords == 12,
    s"banner drifted to $headerWords words - q114/q115/q116 gate " +
      "arithmetic and SkewGateSpec assume 12")

  private val headerSqlLit = s"'$header '"

  private[queries] def withHeader(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(10)) === 0,
          concat(lit(header + " "), col("text")))
        .otherwise(col("text")).as("text"),
      col("n_chars"))

  private[queries] val headeredSql =
    s"""CASE WHEN doc_id % 10 = 0 THEN $headerSqlLit || text
      |    ELSE text END""".stripMargin

  /** q114's corpus: header-planted documents ∪ perturbed copies of the
    * long ones (drop the first word; +1M ids — the q43 plant, applied
    * AFTER the header so hot docs keep 9 of their 10 hot grams — the
    * drop removes only "subscribe to our" — and the true near-dup
    * pairs ride through the skew). */
  private[graft] def jaccardSkewDocs(s: SparkSession, dir: String): DataFrame = {
    val base = withHeader(Tables.parallel(s, dir, "documents"))
    val perturbed = base.filter(col("n_chars") >= 100)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
    base.select("doc_id", "text").unionByName(perturbed)
  }

  private val jaccardSkewSql =
    s"""aug AS (
      |  SELECT doc_id, $headeredSql AS text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, substr(t, strpos(t, ' ') + 1)
      |  FROM (SELECT doc_id, $headeredSql AS t
      |        FROM documents WHERE n_chars >= 100))""".stripMargin

  /** q114: exact trigram Jaccard self-join over the Zipf-hot corpus —
    * q43's operator and parameters, the adversarial input. The hot
    * grams sort LAST under the rare-first canonical order, so no probe
    * prefix contains one and the header buckets are never pair-expanded
    * ([[graft.operators.JaccardJoin]] step 2-3); the exhaustive oracle
    * proves losslessness, [[graft.tools.ProfileSkew]] proves the
    * candidate set stays near-linear. */
  def q114JaccardSkew(s: SparkSession, dir: String): DataFrame =
    graft.operators.JaccardJoin.nearDupPairs(jaccardSkewDocs(s, dir),
      "doc_id", "text", k = 3, minJaccard = 0.8)

  /** q115's corpus: header-planted documents ∪ head snippets (+4M ids,
    * the q59 plant) that KEEP the header on hot docs — so a hot
    * snippet's gram set is ~2/3 hot grams, the worst honest shape for
    * containment blocking: the index side must still index every hot
    * gram (containment puts no lower bound on |B|'s share), while the
    * probe prefix must stay hot-free for the join to stay linear.
    * Snippets take ≥5 words of the ORIGINAL body (not of the headered
    * text), so every snippet keeps enough doc-specific grams that its
    * only ≥0.9 containment is its own source — the true-pair set stays
    * linear under the plant. */
  private[graft] def containSkewDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val w = split(col("text"), " ")
    val nTake = greatest(lit(5L), floor(size(w) * 35 / 100)).cast("int")
    val snipBody = concat_ws(" ", slice(w, lit(1), nTake))
    val snip = docs.filter(col("n_chars") >= 100)
      .select((col("doc_id") + 4000000L).as("doc_id"),
        when(pmod(col("doc_id"), lit(10)) === 0,
            concat(lit(header + " "), snipBody))
          .otherwise(snipBody).as("text"))
    withHeader(docs).select("doc_id", "text").unionByName(snip)
  }

  /** q115: asymmetric trigram containment over the Zipf-hot snippet
    * corpus — q59's operator and threshold, the adversarial input.
    * Exhaustive directed all-pairs DuckDB ground truth. */
  def q115ContainmentSkew(s: SparkSession, dir: String): DataFrame =
    graft.operators.ContainmentJoin.containedPairs(
      containSkewDocs(s, dir), "doc_id", "text", k = 3,
      minContainment = 0.9)

  /* Boilerplate-collapse gates (q116, q117): the boilerplate-ONLY
    * document cohort — the corner q115 pinned as *exact*
    * but not *linear*. A doc whose every gram is hot (an empty crawl
    * page that is nothing but the banner) has no rare gram for the
    * prefix to pick, so it probes the FULL hot index bucket; a class of
    * c·N such docs is c·0.1·N² candidate pairs — and, because identical
    * pages trivially contain each other, the true directed-pair answer
    * over the raw corpus is itself quadratic, so no lossless blocking
    * can stay linear on the raw input. The honest defense is the
    * pipeline's stage order, demonstrated here as product code
    * ([[graft.operators.ContainmentJoin.containedPairsCollapsed]]):
    * exact dedup collapses each identical-body class to one
    * representative in ONE map-side-combined fingerprint shuffle, the
    * containment join then sees each distinct body once, and both
    * candidates and output return to data-proportional —
    * [[graft.tools.ProfileSkew]]'s boilerplate section measures the
    * cohort's candidate contribution staying linear at 10× data while
    * the uncollapsed path grows ~100×.
    *
    * The gate is exhaustive-oracle checked: DuckDB replays the plant AND
    * the collapse (group by lower/trim, min-id representative), then
    * scans all representative pairs — so the composition must stay
    * lossless, not merely fast.
    */

  /** Banner minus its last word — still every gram hot. */
  private val headerShort =
    header.split(" ").dropRight(1).mkString(" ")

  /** Banner plus one fixed word — 10 of its 11 grams hot
    * (headerLong→banner containment 10/11 = 0.909, banner→headerLong
    * 10/10 = 1.0). The EXACT-0.9 borderline the gate pins is
    * banner→headerShort: 9 of the banner's 10 grams survive the
    * dropped word, 9/10 = 0.90 — dead on the threshold both engines
    * must agree on. (Figures per-variant: banner 12 words = 10
    * trigrams, headerShort 9, headerLong 11.) */
  private val headerLong = header + " today"

  /** q116's corpus: the q115 header-planted base (banner on 10% of
    * docs) ∪ a boilerplate-ONLY cohort (+8M ids, one per doc_id % 20
    * == 0 → 5% of docs, cycling three variants: the banner, banner
    * minus last word, banner + one word). Within a variant every text
    * is IDENTICAL — the empty-crawl-page class. */
  private[graft] def boilerDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallel(s, dir, "documents")
    val variant = expr("pmod(doc_id div 20, 3)")
    val boiler = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
      .select((col("doc_id") + 8000000L).as("doc_id"),
        when(variant === 0, lit(header))
          .when(variant === 1, lit(headerShort))
          .otherwise(lit(headerLong)).as("text"))
    withHeader(docs).select("doc_id", "text").unionByName(boiler)
  }

  /** q116: exact-collapse + containment over the boilerplate cohort —
    * directed pairs over min-id representatives of identical bodies. */
  def q116BoilerplateCollapse(s: SparkSession, dir: String): DataFrame =
    graft.operators.ContainmentJoin.containedPairsCollapsed(
      boilerDocs(s, dir), "doc_id", "text", k = 3, minContainment = 0.9)

  /** q117: the Jaccard twin over the same corpus — identical pages are
    * J=1.0 pairs (quadratic raw answer), the collapse restores linear;
    * the surviving boilerplate trio itself stays in-answer
    * (banner↔headerShort 9/10 = 0.90, banner↔headerLong 10/11 = 0.909,
    * headerShort↔headerLong 9/11 = 0.818 — all over the 0.8 line,
    * cross-variant structure the oracle must reproduce exactly). */
  def q117JaccardBoilerCollapse(s: SparkSession, dir: String): DataFrame =
    graft.operators.JaccardJoin.nearDupPairsCollapsed(
      boilerDocs(s, dir), "doc_id", "text", k = 3, minJaccard = 0.8)

  /** The q116/q117 plant + collapse as a reusable CTE pair: `raw` =
    * headered base ∪ boilerplate cohort, `aug` = min-id reps of
    * lower/trim-identical bodies (the name
    * [[exactJaccardPairsSql]]'s gram CTE reads from). */
  private val boilerCollapsedCte =
    s"""raw AS (
      |  SELECT doc_id, ${headeredSql} AS text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 8000000,
      |    CASE CAST((doc_id // 20) % 3 AS INT)
      |      WHEN 0 THEN '$header'
      |      WHEN 1 THEN '$headerShort'
      |      ELSE '$headerLong' END
      |  FROM documents WHERE doc_id % 20 = 0),
      |aug AS (
      |  SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text
      |  FROM raw GROUP BY lower(trim(text)))""".stripMargin

  /* Budget-bind gates (q118, q119): the stop-gram BUDGET-BIND path
    * exercised through the DuckDB oracle, not only through
    * specs. Both gram joins run with a deliberately tiny
    * `stopGramBudgetBytes` so the Auto path's df≥2 table outgrows the
    * budget on every scale factor and the operator takes
    * [[graft.operators.StopGrams.joinPrefix]] — the distributed exact
    * frequency order — end to end. The oracles are EXACTLY q43's and
    * q59's exhaustive all-pairs ground truths: the bind path must
    * reproduce the broadcast path's answers bit-for-bit (both are
    * lossless consistent total orders ahead of a string-exact verify),
    * so these gates pin the fallback's correctness at whatever scale
    * the oracle compare runs.
    */

  /** 1 KiB = 64 stop-gram entries: bound by construction on every sf
    * (the sf0.01 corpus alone has thousands of df≥2 trigrams), so the
    * gate can never silently fall back to the broadcast fast path. */
  val BindBudgetBytes: Long = 1024L

  /** q118: q43's exact Jaccard self-join, forced through the bind. */
  def q118JaccardBind(s: SparkSession, dir: String): DataFrame =
    JaccardJoin.nearDupPairs(augmentedDocs(s, dir),
      "doc_id", "text", k = 3, minJaccard = 0.8,
      maxStopGrams = StopGrams.Auto, stopGramBudgetBytes = BindBudgetBytes)

  /** q119: q59's asymmetric containment join, forced through the bind. */
  def q119ContainmentBind(s: SparkSession, dir: String): DataFrame =
    ContainmentJoin.containedPairs(snippetCorpus(s, dir),
        "doc_id", "text", k = 3, minContainment = 0.9,
        maxStopGrams = StopGrams.Auto, stopGramBudgetBytes = BindBudgetBytes)
      .orderBy("id_a", "id_b")

  /* Bind × skew gates (q120, q121): the stop-gram BUDGET-BIND path
    * under Zipf-hot gram skew — the composition neither family of
    * prior gates exercised. q114/q115 plant the crawl-scale hot-gram
    * shape (a boilerplate banner on 10% of documents, so each header
    * trigram's df is ~10% of the corpus) but always ran the BROADCAST
    * stop-table path; q118/q119 force the bind fallback
    * ([[graft.operators.StopGrams.joinPrefix]] — the distributed exact
    * frequency order, the path that actually runs at 100 TB where the
    * df≥2 table outgrows any driver budget) but over near-uniform
    * corpora. These two gates run the bind path ON the skew corpora:
    * the 1 KiB budget guarantees the Auto path binds at every scale
    * factor, and the oracles are EXACTLY q114's/q115's exhaustive
    * all-pairs ground truths, so the fallback must stay lossless under
    * the hot grams, not merely fast.
    *
    * Why this is the adversarial composition: [[StopGrams.joinPrefix]]
    * annotates every (doc, gram) row with its df via a gram-keyed
    * shuffle join — a hash partitioning that sends EVERY doc holding a
    * hot gram to the same partition. Whether that is a straggler is a
    * measurement question, not a prediction: each doc contributes a
    * gram at most once (the gram sets are distinct), so a df = 0.1·N
    * gram adds 0.1·N rows to one partition of a join whose TOTAL row
    * count is N × avg-grams-per-doc (~50·N here) — the hot partition
    * must be read against the average partition, from the executed
    * plan's own metrics. [[graft.tools.ProfileSkew]]'s bind section
    * stamps exactly that (per-partition row counts of the gram join as
    * executed, candidate volumes at sf0.1 vs the 10× sf1, and whether
    * AQE's skew reader fired); PLANS.md "Bind×skew decomposition"
    * records the curve and names the mechanism from those numbers.
    */

  /** q120: q114's Zipf-hot Jaccard self-join forced through the bind
    * (BindBudgetBytes = 1 KiB = 64 stop-gram entries; the
    * skew corpus has thousands of df≥2 trigrams at every sf, so the
    * gate can never silently take the broadcast fast path). */
  def q120JaccardBindSkew(s: SparkSession, dir: String): DataFrame =
    JaccardJoin.nearDupPairs(jaccardSkewDocs(s, dir),
      "doc_id", "text", k = 3, minJaccard = 0.8,
      maxStopGrams = StopGrams.Auto,
      stopGramBudgetBytes = BindBudgetBytes)

  /** q121: q115's Zipf-hot asymmetric containment forced through the
    * bind — the worst honest shape (a hot snippet's gram set is ~2/3
    * hot grams and the index side must still index every hot gram). */
  def q121ContainmentBindSkew(s: SparkSession, dir: String): DataFrame =
    ContainmentJoin.containedPairs(containSkewDocs(s, dir),
        "doc_id", "text", k = 3, minContainment = 0.9,
        maxStopGrams = StopGrams.Auto,
        stopGramBudgetBytes = BindBudgetBytes)
      .orderBy("id_a", "id_b")

  /** q59's exhaustive directed all-pairs ground truth, shared with its
    * budget-bind twin q119 so the two paths are graded against one SQL. */
  private val containmentSql =
    """WITH aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 4000000,
      |    array_to_string(string_split(text, ' ')[1:CAST(greatest(5,
      |      floor(len(string_split(text, ' ')) * 35 / 100)) AS INT)], ' ')
      |  FROM documents WHERE n_chars >= 100),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      generate_series(1, len(string_split(text, ' ')) - 2),
      |      i -> string_split(text, ' ')[i] || ' ' ||
      |           string_split(text, ' ')[i+1] || ' ' ||
      |           string_split(text, ' ')[i+2])) AS s
      |  FROM aug),
      |sh2 AS (SELECT * FROM sh WHERE len(s) > 0)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
      |    AS containment
      |FROM sh2 a JOIN sh2 b ON a.doc_id <> b.doc_id
      |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.9
      |ORDER BY id_a, id_b""".stripMargin

  /** q115's exhaustive ground truth, shared with its budget-bind twin
    * q121 so the two paths are graded against one SQL. */
  private val containSkewSql =
    s"""WITH aug AS (
      |  SELECT doc_id, $headeredSql AS text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 4000000,
      |    CASE WHEN doc_id % 10 = 0 THEN $headerSqlLit ELSE '' END ||
      |    array_to_string(string_split(text, ' ')[1:CAST(greatest(5,
      |      floor(len(string_split(text, ' ')) * 35 / 100)) AS INT)], ' ')
      |  FROM documents WHERE n_chars >= 100),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      generate_series(1, len(string_split(text, ' ')) - 2),
      |      i -> string_split(text, ' ')[i] || ' ' ||
      |           string_split(text, ' ')[i+1] || ' ' ||
      |           string_split(text, ' ')[i+2])) AS s
      |  FROM aug),
      |sh2 AS (SELECT * FROM sh WHERE len(s) > 0)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
      |    AS containment
      |FROM sh2 a JOIN sh2 b ON a.doc_id <> b.doc_id
      |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.9
      |ORDER BY id_a, id_b""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q18_minhash_neardup", q18MinhashNearDup,
      exactJaccardPairsSql(3, "0.8")),
    Query("q43_jaccard_neardup", q43JaccardNearDup,
      exactJaccardPairsSql(3, "0.8")),
    Query("q45_distinct_approx", q45DistinctApprox,
      s"""WITH a AS (
        |  SELECT lang, approx_distinct
        |  FROM ${Query.readBack("q45_distinct_approx")}),
        |e AS (
        |  SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS exact_distinct
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |        FROM documents)
        |  GROUP BY lang)
        |SELECT a.lang, a.approx_distinct, e.exact_distinct,
        |  round(CAST(abs(a.approx_distinct - e.exact_distinct) AS DOUBLE)
        |    / e.exact_distinct, 6) AS rel_err,
        |  round(CAST(abs(a.approx_distinct - e.exact_distinct) AS DOUBLE)
        |    / e.exact_distinct, 6) <= 0.05 AS within_tol
        |FROM a JOIN e USING (lang) ORDER BY lang""".stripMargin,
      readBack = true),
    Query("q44_seq_pack", q44SeqPack,
      s"""WITH t0 AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |FROM documents),
        |ng AS (SELECT greatest(CAST(8 AS BIGINT),
        |  (sum(n_tokens) + ${SeqPack.DefaultTokensPerGroup - 1}) //
        |    ${SeqPack.DefaultTokensPerGroup}) AS g FROM t0),
        |t AS (SELECT doc_id,
        |  CAST(doc_id % (SELECT g FROM ng) AS BIGINT) AS pack_group,
        |  n_tokens FROM t0),
        |c AS (SELECT doc_id, pack_group, n_tokens,
        |  CAST(sum(n_tokens) OVER (PARTITION BY pack_group ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS ts
        |FROM t)
        |SELECT doc_id, pack_group, n_tokens,
        |  CAST(ts // 512 AS BIGINT) AS seq_id,
        |  CAST(ts % 512 AS BIGINT) AS tok_offset,
        |  CAST(CASE WHEN n_tokens = 0 THEN 0
        |       ELSE (ts + n_tokens - 1) // 512 - ts // 512 + 1 END
        |    AS BIGINT) AS n_seqs
        |FROM c ORDER BY doc_id""".stripMargin),
    Query("q20_lang_id", q20LangId,
      """WITH t AS (SELECT doc_id, ' ' || text || ' ' AS p FROM documents),
        |s AS (SELECT doc_id,
        |  (length(p) - length(replace(p, ' the ', ''))) // 5 +
        |  (length(p) - length(replace(p, ' and ', ''))) // 5 AS s_en,
        |  (length(p) - length(replace(p, ' der ', ''))) // 5 +
        |  (length(p) - length(replace(p, ' und ', ''))) // 5 AS s_de,
        |  (length(p) - length(replace(p, ' le ', ''))) // 4 +
        |  (length(p) - length(replace(p, ' et ', ''))) // 4 AS s_fr,
        |  (length(p) - length(replace(p, ' el ', ''))) // 4 +
        |  (length(p) - length(replace(p, ' y ', ''))) // 3 AS s_es
        |FROM t)
        |SELECT doc_id, s_en, s_de, s_fr, s_es,
        |  CASE WHEN s_en >= greatest(s_de, s_fr, s_es) THEN 'en'
        |       WHEN s_de >= greatest(s_fr, s_es) THEN 'de'
        |       WHEN s_fr >= s_es THEN 'fr'
        |       ELSE 'es' END AS lang_guess
        |FROM s ORDER BY doc_id""".stripMargin),
    Query("q21_text_quality", q21TextQuality,
      """WITH t AS (SELECT doc_id, text,
        |  CAST(length(text) AS BIGINT) AS n_chars_m,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
        |FROM documents)
        |SELECT doc_id, n_chars_m, n_tokens, n_distinct,
        |  round(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS diversity,
        |  round(CAST(n_chars_m - (n_tokens - 1) AS DOUBLE) / n_tokens, 6)
        |    AS avg_token_len,
        |  (n_tokens >= 5 AND n_tokens <= 1000 AND
        |   round(CAST(n_distinct AS DOUBLE) / n_tokens, 6) >= 0.05)
        |    AS quality_ok
        |FROM t ORDER BY doc_id""".stripMargin),
    Query("q22_token_count", q22TokenCount,
      """WITH t AS (SELECT lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |    AS BIGINT) AS re
        |FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(ws) AS BIGINT) AS sum_ws_toks,
        |  CAST(sum(re) AS BIGINT) AS sum_re_toks,
        |  round(CAST(sum(ws) AS DOUBLE) / count(*), 6) AS avg_ws_toks
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin),
    Query("q23_fingerprint", q23Fingerprint,
      """SELECT source, count(DISTINCT lower(trim(text))) AS n_unique,
        | count(*) AS n_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    // Read-back oracles (q24/q28/q31): re-derive every SQL-expressible
    // column of the returned rows from the raw tables; see each query's
    // scaladoc for the verified-vs-echoed split.
    Query("q24_simhash_neardup", q24SimhashNearDup,
      s"""WITH $augmentedSql,
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2])) AS s
        |  FROM aug),
        |pairs AS (SELECT id_a, id_b, hamming FROM ${Query.readBack("q24_simhash_neardup")})
        |SELECT p.id_a, p.id_b, p.hamming,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |FROM pairs p
        |JOIN sh a ON a.doc_id = p.id_a
        |JOIN sh b ON b.doc_id = p.id_b
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |    len(list_distinct(list_concat(a.s, b.s))) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin, readBack = true),
    Query("q31_winnow_neardup", q31WinnowNearDup,
      s"""WITH $augmentedSql,
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2])) AS s
        |  FROM aug),
        |pairs AS (SELECT id_a, id_b, shared_fps FROM ${Query.readBack("q31_winnow_neardup")})
        |SELECT p.id_a, p.id_b, p.shared_fps,
        |  CASE WHEN len(list_distinct(list_concat(a.s, b.s))) = 0 THEN 0.0
        |       ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |            len(list_distinct(list_concat(a.s, b.s))) END AS jaccard
        |FROM pairs p
        |JOIN sh a ON a.doc_id = p.id_a
        |JOIN sh b ON b.doc_id = p.id_b
        |ORDER BY id_a, id_b""".stripMargin, readBack = true),
    Query("q25_embed_neardup", q25EmbedNearDup,
      """WITH corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_transform(embedding::DOUBLE[], x -> x * 2),
        |         label
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS cos
        |FROM corpus a JOIN corpus b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.999
        |ORDER BY id_a, id_b""".stripMargin),
    Query("q32_cluster_dedup", q32ClusterDedup,
      s"""WITH RECURSIVE $augmentedSql,
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2])) AS s
        |  FROM aug),
        |sh2 AS (SELECT * FROM sh WHERE len(s) > 0),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        |e AS (SELECT id_a AS s, id_b AS d FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach(s, d) AS (
        |  SELECT s, d FROM e
        |  UNION
        |  SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s)
        |SELECT s AS doc_id, CAST(least(s, min(d)) AS BIGINT) AS rep_id
        |FROM reach GROUP BY s ORDER BY doc_id""".stripMargin),
    Query("q33_embed_neardup_lsh", q33EmbedNearDupLsh,
      """WITH corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_transform(embedding::DOUBLE[], x -> x * 2)
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS cos
        |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.999
        |ORDER BY id_a, id_b""".stripMargin),
    Query("q35_repetition", q35Repetition,
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(ws) - 1),
        |    i -> ws[i] || ' ' || ws[i+1])) AS gram
        |  FROM w),
        |c AS (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY doc_id, gram)
        |SELECT doc_id,
        |  CAST(sum(n) AS BIGINT) AS n_bigrams,
        |  CAST(max(n) AS BIGINT) AS top_bigram_n,
        |  round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS top_frac,
        |  round(CAST(max(n) AS DOUBLE) / sum(n), 6) >= 0.18 AS repetitive
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("q36_pii_extract", q36PiiExtract,
      """SELECT event_id,
        |  event_type || CAST(user_id AS VARCHAR) || '@example.com' AS email_1,
        |  event_type || '_admin@corp.io' AS email_2,
        |  CAST(user_id % 900 + 100 AS VARCHAR) || '-' ||
        |    CAST((user_id * 7) % 9000 + 1000 AS VARCHAR) AS phone,
        |  CAST(3 AS BIGINT) AS n_pii
        |FROM events ORDER BY event_id""".stripMargin),
    Query("q37_contamination", q37Contamination,
      """WITH tw AS (SELECT doc_id, string_split(text, ' ') AS w
        |            FROM documents WHERE doc_id % 20 <> 0),
        |bw AS (SELECT string_split(text, ' ') AS w
        |       FROM documents WHERE doc_id % 20 = 0),
        |bg AS (SELECT DISTINCT array_to_string(w[i:i+3], ' ') AS gram
        |       FROM bw, UNNEST(range(1, greatest(len(w) - 2, 1))) AS t(i)),
        |tg AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+3], ' ') AS gram
        |       FROM tw, UNNEST(range(1, greatest(len(w) - 2, 1))) AS t(i)),
        |cnt AS (SELECT doc_id, count(*) AS n_hit
        |        FROM tg JOIN bg USING(gram) GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_grams FROM tg GROUP BY doc_id)
        |SELECT d.doc_id AS doc_id,
        |  CAST(coalesce(tot.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(cnt.n_hit, 0) AS BIGINT) AS n_contaminated,
        |  CASE WHEN coalesce(tot.n_grams, 0) = 0 THEN CAST(0.0 AS DOUBLE)
        |       ELSE round(CAST(coalesce(cnt.n_hit, 0) AS DOUBLE)
        |                  / tot.n_grams, 6) END AS contam_frac,
        |  coalesce(cnt.n_hit, 0) >= 1 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
        |LEFT JOIN tot ON tot.doc_id = d.doc_id
        |LEFT JOIN cnt ON cnt.doc_id = d.doc_id
        |ORDER BY 1""".stripMargin),
    Query("q38_dedup_corpus", q38DedupCorpus,
      s"""WITH RECURSIVE $augmentedSql,
        |aug2 AS (SELECT doc_id, text FROM aug
        |         UNION ALL
        |         SELECT doc_id + 2000000, text FROM documents
        |         WHERE n_chars >= 100),
        |g AS (SELECT doc_id, text,
        |        min(doc_id) OVER (PARTITION BY lower(trim(text))) AS erep
        |      FROM aug2),
        |reps AS (SELECT doc_id, text FROM g WHERE doc_id = erep),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2])) AS s
        |  FROM reps),
        |sh2 AS (SELECT * FROM sh WHERE len(s) > 0),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        |e AS (SELECT id_a AS s, id_b AS d FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach(s, d) AS (
        |  SELECT s, d FROM e
        |  UNION
        |  SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s),
        |comp AS (SELECT s AS doc_id, least(s, min(d)) AS rep
        |         FROM reach GROUP BY s),
        |near_drop AS (SELECT doc_id FROM comp WHERE doc_id <> rep)
        |SELECT g.doc_id AS doc_id,
        |  CASE WHEN g.doc_id <> g.erep THEN 'exact_dup'
        |       WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
        |       ELSE 'kept' END AS stage,
        |  (g.doc_id = g.erep AND nd.doc_id IS NULL) AS kept
        |FROM g LEFT JOIN near_drop nd ON nd.doc_id = g.doc_id
        |ORDER BY 1""".stripMargin),
    Query("q39_corpus_mix", q39CorpusMix,
      """WITH wt AS (
        |  SELECT 'src' || CAST(i AS VARCHAR) AS source,
        |    CAST(CASE i % 4 WHEN 0 THEN 0.0 WHEN 1 THEN 0.5
        |         WHEN 2 THEN 1.0 ELSE 2.5 END AS DOUBLE) AS w
        |  FROM range(20) t(i)),
        |n AS (
        |  SELECT d.doc_id, d.source,
        |    CAST(floor(w) AS BIGINT) +
        |      CASE WHEN d.doc_id % 1000 < (w - floor(w)) * 1000
        |           THEN 1 ELSE 0 END AS nc
        |  FROM documents d JOIN wt USING(source))
        |SELECT doc_id, source, CAST(c AS BIGINT) AS copy
        |FROM n, UNNEST(range(1, nc + 1)) t(c)
        |ORDER BY doc_id, copy""".stripMargin),
    Query("q40_quality_filter", q40QualityFilter,
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w
        |           FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_words,
        |  round(CAST(length(text) - (len(w) - 1) AS DOUBLE) / len(w), 6)
        |    AS mean_word_len,
        |  round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
        |    AS diversity,
        |  list_has_any(w, ['the', 'a', 'and']) AS stop_ok
        |FROM t)
        |SELECT doc_id, n_words, mean_word_len, diversity, stop_ok,
        |  n_words BETWEEN 50 AND 10000 AS n_words_ok,
        |  mean_word_len BETWEEN 3.0 AND 10.0 AS word_len_ok,
        |  diversity >= 0.1 AS diversity_ok,
        |  (n_words BETWEEN 50 AND 10000 AND
        |   mean_word_len BETWEEN 3.0 AND 10.0 AND
        |   diversity >= 0.1 AND stop_ok) AS pass
        |FROM m ORDER BY doc_id""".stripMargin),
    Query("q41_corpus_build", q41CorpusBuild,
      s"""$corpusBuildSqlPrefix
        |SELECT doc_id, source, CAST(c AS BIGINT) AS copy
        |FROM n, UNNEST(range(1, nc + 1)) t(c)
        |ORDER BY doc_id, copy""".stripMargin),
    Query("q46_corpus_pack", q46CorpusPack,
      s"""$corpusBuildSqlPrefix,
        |mixed AS (
        |  SELECT doc_id, source, CAST(c AS BIGINT) AS copy
        |  FROM n, UNNEST(range(1, nc + 1)) t(c)),
        |tok AS (SELECT doc_id,
        |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |        FROM corpus),
        |packrows0 AS (
        |  SELECT m.doc_id * 8 + m.copy AS row_id, m.doc_id, t.n_tokens
        |  FROM mixed m JOIN tok t USING (doc_id)),
        |ng AS (SELECT greatest(CAST(8 AS BIGINT),
        |  (sum(n_tokens) + ${SeqPack.DefaultTokensPerGroup - 1}) //
        |    ${SeqPack.DefaultTokensPerGroup}) AS g FROM packrows0),
        |packrows AS (
        |  SELECT row_id,
        |    CAST(doc_id % (SELECT g FROM ng) AS BIGINT) AS pack_group, n_tokens
        |  FROM packrows0),
        |cum AS (
        |  SELECT row_id, pack_group, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY pack_group ORDER BY row_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS ts
        |  FROM packrows)
        |SELECT row_id, pack_group, n_tokens,
        |  CAST(ts // 512 AS BIGINT) AS seq_id,
        |  CAST(ts % 512 AS BIGINT) AS tok_offset,
        |  CAST(CASE WHEN n_tokens = 0 THEN 0
        |       ELSE (ts + n_tokens - 1) // 512 - ts // 512 + 1 END
        |    AS BIGINT) AS n_seqs
        |FROM cum ORDER BY row_id""".stripMargin),
    Query("q47_semantic_dedup", q47SemanticDedup,
      s"""WITH RECURSIVE out AS (
        |  SELECT vec_id, cell FROM ${Query.readBack("q47_semantic_dedup")}),
        |corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, list_transform(embedding::DOUBLE[], x -> x * 2)
        |  FROM embeddings),
        |m AS (SELECT o.vec_id, o.cell, c.v FROM out o JOIN corpus c USING (vec_id)),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE a.cell <> -1
        |    AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.999),
        |e AS (SELECT id_a AS s, id_b AS d FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach(s, d) AS (
        |  SELECT s, d FROM e
        |  UNION
        |  SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s),
        |rep AS (SELECT s AS vec_id, least(s, min(d)) AS rep_id
        |        FROM reach GROUP BY s)
        |SELECT m.vec_id, m.cell,
        |  CAST(coalesce(rep.rep_id, m.vec_id) AS BIGINT) AS rep_id,
        |  coalesce(rep.rep_id, m.vec_id) = m.vec_id AS kept
        |FROM m LEFT JOIN rep USING (vec_id) ORDER BY m.vec_id""".stripMargin,
      readBack = true),
    Query("q49_dup_spans", q49DupSpans,
      s"""WITH $augmentedSql,
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM aug),
        |g2 AS (SELECT doc_id, i AS pos, array_to_string(w[i:i+9], ' ') AS gram
        |       FROM toks, UNNEST(range(1, greatest(len(w) - 8, 1))) AS t(i)),
        |dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) >= 2),
        |cov AS (SELECT doc_id, pos, pos + 9 AS e FROM g2 JOIN dup USING (gram)),
        |isl AS (SELECT doc_id, pos, e,
        |          max(e) OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |        FROM cov),
        |isl2 AS (SELECT doc_id, pos, e,
        |           sum(CASE WHEN pmax IS NULL OR pos > pmax + 1
        |               THEN 1 ELSE 0 END)
        |             OVER (PARTITION BY doc_id ORDER BY pos
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             AS island
        |         FROM isl),
        |spans AS (SELECT doc_id, island, min(pos) AS s, max(e) AS e2
        |          FROM isl2 GROUP BY doc_id, island),
        |prof AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
        |           CAST(sum(e2 - s + 1) AS BIGINT) AS dup_tokens
        |         FROM spans GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
        |  CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  round(CAST(coalesce(p.dup_tokens, 0) AS DOUBLE) / len(t.w), 6)
        |    AS dup_ratio
        |FROM toks t LEFT JOIN prof p USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    Query("q50_perplexity", q50Perplexity,
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |bo AS (SELECT doc_id, w[i] AS p, w[i] || ' ' || w[i+1] AS b
        |       FROM d, UNNEST(range(1, greatest(len(w), 1))) AS t(i)),
        |tf AS (SELECT doc_id, b, p, CAST(count(*) AS BIGINT) AS tf
        |       FROM bo GROUP BY 1, 2, 3),
        |c2 AS (SELECT b, CAST(sum(tf) AS BIGINT) AS c2 FROM tf GROUP BY b),
        |c1 AS (SELECT p, CAST(sum(tf) AS BIGINT) AS c1 FROM tf GROUP BY p),
        |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
        |      FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |            FROM documents)),
        |term AS (SELECT tf.doc_id,
        |    CAST(ln((CAST(c2.c2 AS DOUBLE) + 1.0) /
        |        CAST(c1.c1 + v.v AS DOUBLE)) * tf.tf
        |      AS DECIMAL(28,12)) AS s,
        |    tf.tf AS tf
        |  FROM tf JOIN c2 USING (b) JOIN c1 USING (p) CROSS JOIN v),
        |agg AS (SELECT doc_id, sum(s) AS ss,
        |          CAST(sum(tf) AS BIGINT) AS n_bigrams
        |        FROM term GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  round(-CAST(a.ss AS DOUBLE) / a.n_bigrams, 6) AS nll,
        |  CASE WHEN a.doc_id IS NULL THEN 'unscored'
        |       WHEN round(-CAST(a.ss AS DOUBLE) / a.n_bigrams, 6)
        |         <= CAST($perplexityHeadMax AS DOUBLE) THEN 'head'
        |       WHEN round(-CAST(a.ss AS DOUBLE) / a.n_bigrams, 6)
        |         <= CAST($perplexityMiddleMax AS DOUBLE) THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    Query("q51_incremental_dedup", q51IncrementalDedup,
      """WITH hist AS (SELECT doc_id, text FROM documents),
        |newb AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    substr(text, strpos(text, ' ') + 1) AS text
        |  FROM documents WHERE n_chars >= 100
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE n_chars >= 100
        |  UNION ALL
        |  SELECT doc_id + 3000000,
        |    array_to_string(list_reverse(string_split(text, ' ')), ' ')
        |  FROM documents WHERE n_chars >= 100),
        |ex AS (SELECT n.doc_id, CAST(count(*) AS BIGINT) AS n_exact
        |       FROM newb n JOIN hist h
        |         ON lower(trim(n.text)) = lower(trim(h.text))
        |       GROUP BY 1),
        |ns AS (SELECT doc_id, list_distinct(list_transform(
        |         generate_series(1, len(string_split(text, ' ')) - 2),
        |         i -> string_split(text, ' ')[i] || ' ' ||
        |              string_split(text, ' ')[i+1] || ' ' ||
        |              string_split(text, ' ')[i+2])) AS s
        |       FROM newb
        |       WHERE doc_id NOT IN (SELECT doc_id FROM ex)),
        |hs AS (SELECT doc_id, list_distinct(list_transform(
        |         generate_series(1, len(string_split(text, ' ')) - 2),
        |         i -> string_split(text, ' ')[i] || ' ' ||
        |              string_split(text, ' ')[i+1] || ' ' ||
        |              string_split(text, ' ')[i+2])) AS s
        |       FROM hist),
        |nr AS (SELECT n.doc_id, CAST(count(*) AS BIGINT) AS n_near
        |       FROM ns n JOIN hs h
        |         ON len(n.s) > 0 AND len(h.s) > 0
        |        AND CAST(len(list_intersect(n.s, h.s)) AS DOUBLE) /
        |            len(list_distinct(list_concat(n.s, h.s))) >= 0.8
        |       GROUP BY 1)
        |SELECT n.doc_id,
        |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact'
        |       WHEN nr.doc_id IS NOT NULL THEN 'near'
        |       ELSE 'new' END AS verdict,
        |  CAST(coalesce(ex.n_exact, nr.n_near, 0) AS BIGINT) AS n_dups
        |FROM newb n
        |LEFT JOIN ex ON ex.doc_id = n.doc_id
        |LEFT JOIN nr ON nr.doc_id = n.doc_id
        |ORDER BY n.doc_id""".stripMargin),
    Query("q52_pii_redact", q52PiiRedact,
      """SELECT event_id,
        |  'user ' || CAST(user_id AS VARCHAR) ||
        |    ' contact <EMAIL> or <EMAIL> tel <PHONE> src <IP>' AS redacted,
        |  CAST(4 AS BIGINT) AS n_redacted
        |FROM events ORDER BY event_id""".stripMargin),
    Query("q53_reshard", q53Reshard,
      s"""WITH o AS (SELECT doc_id, h, shard, pos
        |           FROM ${Query.readBack("q53_reshard")}),
        |j AS (SELECT d.doc_id, o.h FROM documents d
        |      LEFT JOIN o ON o.doc_id = d.doc_id),
        |r AS (SELECT doc_id, h,
        |        CAST(((h % 32) + 32) % 32 AS INTEGER) AS shard,
        |        CAST(row_number() OVER (
        |          PARTITION BY ((h % 32) + 32) % 32
        |          ORDER BY h, doc_id) AS BIGINT) AS pos
        |      FROM j)
        |SELECT doc_id, h, shard, pos FROM r
        |ORDER BY shard, pos""".stripMargin, readBack = true),
    Query("q57_text_normalize", q57TextNormalize,
      s"""SELECT doc_id,
        |  trim(regexp_replace(nfc_normalize(regexp_replace(
        |    $plantedSql,
        |    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')),
        |    '[ \\t\\n\\r]+', ' ', 'g')) AS norm_text
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("q58_topk_sketch", q58TopkSketch,
      s"""WITH r AS (SELECT * FROM ${Query.readBack("q58_topk_sketch")}),
        |w AS (SELECT string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT w[i] || ' ' || w[i + 1] AS term
        |      FROM w, UNNEST(generate_series(1, len(w) - 1)) t(i)),
        |ex AS (SELECT term, CAST(count(*) AS BIGINT) AS c
        |       FROM g GROUP BY 1)
        |SELECT r.rank, r.term, r.est, r.err
        |FROM r JOIN ex USING (term)
        |WHERE r.est >= ex.c AND r.est - r.err <= ex.c
        |ORDER BY r.rank""".stripMargin, readBack = true),
    Query("q59_containment_dedup", q59ContainmentDedup, containmentSql),
    Query("q61_source_quota", q61SourceQuota,
      // the double-% form is DuckDB's pmod: non-negative like the Spark
      // side's pmod even if a future data generation ships negative ids
      // (a multiply overflow errors loudly in DuckDB instead of wrapping)
      """SELECT source, CAST(rank AS INT) AS rank, doc_id,
        |  ((doc_id * 2654435761) % 1000000007 + 1000000007) % 1000000007
        |    AS pri
        |FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ((doc_id * 2654435761) % 1000000007 + 1000000007)
        |        % 1000000007, doc_id) AS rank
        |  FROM documents) t
        |WHERE rank <= 15
        |ORDER BY source, rank""".stripMargin),
    Query("q65_doc_chunk", q65DocChunk,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
        |             len(string_split(text, ' ')) AS n FROM documents),
        |e AS (SELECT doc_id, w, n, CAST(i AS BIGINT) AS i
        |      FROM t, UNNEST(range(1, n + 1, 40)) AS u(i))
        |SELECT doc_id,
        |  CAST((i - 1) // 40 AS INT) AS chunk_id,
        |  array_to_string(w[i:least(i + 49, n)], ' ') AS chunk,
        |  CAST(least(n - i + 1, 50) AS INT) AS n_tokens
        |FROM e
        |WHERE i = 1 OR n - i + 1 >= 10
        |ORDER BY doc_id, chunk_id""".stripMargin),
    Query("q66_quality_topfrac", q66QualityTopfrac,
      """WITH t AS (SELECT source, doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |r AS (SELECT source, doc_id, n_tokens,
        |        CAST(row_number() OVER (PARTITION BY source
        |          ORDER BY n_tokens DESC, doc_id) AS INT) AS rank,
        |        count(*) OVER (PARTITION BY source) AS cnt
        |      FROM t)
        |SELECT source, rank, doc_id, n_tokens FROM r
        |WHERE 10 * rank <= 7 * cnt
        |ORDER BY source, rank""".stripMargin),
    Query("q64_source_overlap", q64SourceOverlap,
      """WITH aug AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    substr(text, instr(text, ' ') + 1),
        |    'src' || CAST((doc_id + 1) % 20 AS VARCHAR)
        |  FROM documents WHERE n_chars >= 100),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2])) AS s
        |  FROM aug),
        |sh2 AS (SELECT * FROM sh WHERE len(s) > 0),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.s, b.s))) >= 0.8)
        |SELECT least(sa.source, sb.source) AS source_a,
        |  greatest(sa.source, sb.source) AS source_b,
        |  CAST(count(*) AS BIGINT) AS pair_cnt
        |FROM pairs
        |JOIN aug sa ON pairs.id_a = sa.doc_id
        |JOIN aug sb ON pairs.id_b = sb.doc_id
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),
    Query("q96_temperature_mix", q96TemperatureMix,
      s"""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |tot AS (SELECT sum(n) AS bign FROM c),
        |sp AS (SELECT CAST(sum(CAST(
        |    pow(CAST(n AS DOUBLE) / CAST(bign AS DOUBLE), $mixAlpha)
        |    AS DECIMAL(28,12))) AS DOUBLE) AS s
        |  FROM c CROSS JOIN tot),
        |w AS (SELECT source, n,
        |    pow(CAST(n AS DOUBLE) / CAST(bign AS DOUBLE), $mixAlpha) / s
        |      * CAST(bign AS DOUBLE) / CAST(n AS DOUBLE) AS w
        |  FROM c CROSS JOIN tot CROSS JOIN sp),
        |m AS (SELECT d.source,
        |    CAST(floor(w.w) AS BIGINT) +
        |      CASE WHEN d.doc_id % 1000 < (w.w - floor(w.w)) * 1000
        |        THEN 1 ELSE 0 END AS nc
        |  FROM documents d JOIN w ON w.source = d.source)
        |SELECT w.source, CAST(w.n AS BIGINT) AS n_orig,
        |  CAST(mm.n_mixed AS BIGINT) AS n_mixed,
        |  round(w.w, 6) AS weight
        |FROM w JOIN (SELECT source, sum(nc) AS n_mixed FROM m GROUP BY 1) mm
        |  ON mm.source = w.source
        |WHERE mm.n_mixed > 0
        |ORDER BY w.source""".stripMargin),
    Query("q75_edit_dist_join", q75EditDistJoin,
      s"""WITH d AS (SELECT doc_id, substr(text, 1, $editHeadChars) AS head
        |           FROM documents WHERE n_chars >= $editHeadChars)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.head, b.head) AS BIGINT) AS dist
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.head, b.head) <= $editDistMax
        |ORDER BY doc_a, doc_b""".stripMargin),
    Query("q105_keepbest_dedup", q105KeepBestDedup,
      s"""WITH RECURSIVE ${augmentedSql},
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2])) AS s
        |  FROM aug),
        |sh2 AS (SELECT * FROM sh WHERE len(s) > 0),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        |e AS (SELECT id_a AS s, id_b AS d FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach(s, d) AS (
        |  SELECT s, d FROM e
        |  UNION
        |  SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s),
        |comp AS (SELECT s AS doc_id, least(s, min(d)) AS rep
        |         FROM reach GROUP BY s),
        |mem AS (SELECT c.doc_id, c.rep, strlen(a.text) AS n
        |        FROM comp c JOIN aug a ON a.doc_id = c.doc_id),
        |rk AS (SELECT doc_id,
        |         row_number() OVER (PARTITION BY rep
        |           ORDER BY n DESC, doc_id) AS r
        |       FROM mem),
        |losers AS (SELECT doc_id FROM rk WHERE r > 1)
        |SELECT CAST(a.doc_id AS BIGINT) AS doc_id,
        |  CAST(strlen(a.text) AS BIGINT) AS n
        |FROM aug a
        |WHERE NOT EXISTS (SELECT 1 FROM losers l
        |                  WHERE l.doc_id = a.doc_id)
        |ORDER BY doc_id""".stripMargin),
    Query("q114_jaccard_skew", q114JaccardSkew,
      exactJaccardPairsSql(3, "0.8", jaccardSkewSql)),
    Query("q115_containment_skew", q115ContainmentSkew, containSkewSql),
    Query("q117_jaccard_boiler_collapse", q117JaccardBoilerCollapse,
      exactJaccardPairsSql(3, "0.8", boilerCollapsedCte)),
    Query("q116_boilerplate_collapse", q116BoilerplateCollapse,
      s"""WITH aug AS (
        |  SELECT doc_id, ${headeredSql} AS text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 8000000,
        |    CASE CAST((doc_id // 20) % 3 AS INT)
        |      WHEN 0 THEN '$header'
        |      WHEN 1 THEN '$headerShort'
        |      ELSE '$headerLong' END
        |  FROM documents WHERE doc_id % 20 = 0),
        |reps AS (
        |  SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text
        |  FROM aug GROUP BY lower(trim(text))),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2])) AS s
        |  FROM reps),
        |sh2 AS (SELECT * FROM sh WHERE len(s) > 0)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
        |    AS containment
        |FROM sh2 a JOIN sh2 b ON a.doc_id <> b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin),
    Query("q118_jaccard_bind", q118JaccardBind,
      exactJaccardPairsSql(3, "0.8")),
    Query("q119_containment_bind", q119ContainmentBind,
      containmentSql),
    Query("q120_jaccard_bind_skew", q120JaccardBindSkew,
      exactJaccardPairsSql(3, "0.8", jaccardSkewSql)),
    Query("q121_containment_bind_skew", q121ContainmentBindSkew,
      containSkewSql))
}
