package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables}

/** Text-analysis pack (SURVEY §2 F1–F8) over the `documents` table.
  *
  * Every operator is a pure column-expression plan (whole-stage
  * codegen, no UDFs except the shared shingling/winnowing passes)
  * with an exact DuckDB oracle. The per-document work is
  * embarrassingly parallel — the only shuffles are the fingerprint
  * distinct and the decontamination per-doc count — so the pack
  * scales linearly with the corpus.
  */
object TextPack extends QueryPack {

  /** Stopword profiles for the language-ID heuristic (tiny fixed
    * lists, inlined into codegen — no join). */
  private val PROFILES: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une"),
  )
  private val STOPWORDS = PROFILES.flatMap(_._2).distinct.sorted

  private def inList(ws: Seq[String]): String = ws.map("'" + _ + "'").mkString(", ")

  /** Fingerprint winnowing parameters: k-gram length and window. */
  private val FP_K = 8
  private val FP_W = 4

  /** Decontamination: docs with doc_id < bound form the held-out
    * "benchmark" set; training docs at or above a 10% distinct-shingle
    * overlap with it are flagged. */
  private val CONTAM_BENCH_BOUND = 20
  private val CONTAM_THRESHOLD = 0.1
  // F19: a shingle is "corpus-common" from this document frequency
  private val DUPGRAM_DF = 4

  /** Corpus balancing: per-language quota. */
  private val BALANCE_QUOTA = 50

  /** Bloom decontamination: filter bits (power of two) and hash
    * count. n ≈ 1k bench shingles at sf0.01 → kn/m ≈ 0.08 →
    * FP ≈ (1−e^−0.08)^5 ≈ 3·10⁻⁶. */
  private val BLOOM_M = 1 << 16
  private val BLOOM_K = 5

  /** Repetition flags (Gopher-style filter thresholds, set at the
    * ~80-90th percentile of this corpus): a doc is repetitive when its
    * most frequent word/bigram dominates or its vocabulary collapses. */
  private val REP_TOP_WORD = 0.12
  private val REP_TOP_BIGRAM = 0.05
  private val REP_MIN_DISTINCT = 0.4

  /** Context-window chunking: window length and stride in tokens. */
  private val CHUNK_LEN = 32
  private val CHUNK_STRIDE = 24
  // F18 weighted sample: survivors kept out of the corpus, weight
  // 1..4 derived from the source id (CAST(substr) % 4 + 1)
  private val SAMPLE_N = 100

  /** Repeated-passage removal: non-overlapping segment length in
    * words, and the absolute document-frequency at which a segment
    * counts as boilerplate (CCNet-style line dedup uses the same
    * absolute-count contract — a passage repeated across ≥ N
    * documents is template text at any corpus size). */
  private val PASSAGE_LEN = 3
  private val PASSAGE_DF = 4

  /** Sequence packing: tokens per bin, shards for parallel packing. */
  private val PACK_BUDGET = 256
  private val PACK_SHARDS = 16

  /** F25 BPE merge-learning steps (each learns one merge rule). */
  private val BPE_STEPS = 6

  /** Corpus-mixing weights by source: >1 upsamples (emit ⌊w⌋ or ⌈w⌉
    * copies), <1 downsamples (keep with probability w). Sources not
    * listed get [[MIX_DEFAULT]]. */
  private val MIX_WEIGHTS: Seq[(String, Double)] = Seq(
    "src0" -> 2.5, "src1" -> 2.0, "src2" -> 1.0, "src3" -> 0.75, "src4" -> 0.5)
  private val MIX_DEFAULT = 0.25

  /** The fractional part of a weight as the 2-hex-digit md5-prefix
    * threshold that accepts it: P(md5 prefix < hex(⌊frac·256⌋)) =
    * frac, and the comparison is a plain string compare in both
    * engines. */
  private def mixThr(w: Double): String =
    f"${math.floor((w - math.floor(w)) * 256).toInt}%02x"

  /** Per-source weighted expression over the `source` column — the
    * ONE definition t_mix and t_pipeline both build on. */
  private def perSource(f: Double => Column): Column =
    MIX_WEIGHTS.foldLeft(f(MIX_DEFAULT)) { case (acc, (src, w)) =>
      when(col("source") === src, f(w)).otherwise(acc)
    }

  /** ⌊w⌋ + Bernoulli(frac(w)) copy count, with the Bernoulli draw an
    * md5-prefix threshold on the given 2-hex-char column. */
  private def nCopiesCol(h2: Column): Column =
    perSource(w => lit(math.floor(w).toLong)) +
      when(h2 < perSource(w => lit(mixThr(w))), 1L).otherwise(0L)

  /** Deterministic split bucket from the first hex char of an id
    * hash: 0..c → train (13/16), d → val (1/16), e..f → test (2/16). */
  private def splitCol(h: Column): Column =
    when(substring(h, 1, 1) < "d", lit("train"))
      .when(substring(h, 1, 1) === "d", lit("val"))
      .otherwise(lit("test"))

  /** Oracle-side twins of [[nCopiesCol]] / [[splitCol]] — single-
    * sourced so the composed pipeline cannot drift from the
    * standalone operators. */
  private def nCopiesSql: String = {
    val baseCase = MIX_WEIGHTS
      .map { case (src, w) => s"WHEN '$src' THEN ${math.floor(w).toInt}" }.mkString(" ")
    val thrCase = MIX_WEIGHTS
      .map { case (src, w) => s"WHEN '$src' THEN '${mixThr(w)}'" }.mkString(" ")
    s"""CAST(CASE source $baseCase ELSE ${math.floor(MIX_DEFAULT).toInt} END
       |   + CASE WHEN substr(md5('mix_' || CAST(doc_id AS VARCHAR)), 1, 2) <
       |      (CASE source $thrCase ELSE '${mixThr(MIX_DEFAULT)}' END)
       |     THEN 1 ELSE 0 END AS BIGINT)""".stripMargin
  }
  private val splitSql: String =
    """CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd' THEN 'train'
      |  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'd' THEN 'val'
      |  ELSE 'test' END""".stripMargin

  /** Shared probe shape of the F6/F21 overlap audits: per probe doc
    * (doc_id, set), the distinct-shingle count and how many of those
    * shingles occur in the reference shingle set — one explode, one
    * shingle-keyed join with constant per-row state, one per-doc
    * count. The reference arrives as a (shingle) DataFrame:
    * broadcast-wrapped by the caller when dimension-bounded (F6's
    * fixed benchmark), join-probed plain when it scales with the
    * corpus (F21's train split). Single-sourced so a fix to the
    * overlap accounting cannot drift between the two keys. */
  private def shingleOverlapCounts(probe: DataFrame, reference: DataFrame): DataFrame = {
    val sizes = probe.select(col("doc_id"), size(col("set")).cast("long").as("n_shingles"))
    val hits = probe.select(col("doc_id"), explode(col("set")).as("shingle"))
      .join(reference, "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    sizes.join(hits, Seq("doc_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // F22: PII-class pattern scrubbing — TextOps.scrubStages applied
    // as a strict pipeline (count on the previous stage's output,
    // then redact) over the events props payload, the one text column
    // in the test data where a category actually fires (documents is
    // digit-free word soup; the numeric category hits every props
    // row, exercising count+redact parity cross-engine, while the
    // email/IPv4 categories prove their no-false-positive side here
    // and their detection side on ScrubSpec's hand-built corpus).
    // Pure row-local codegen'd regex — zero shuffle at any scale.
    "t_scrub" -> { (s, d) =>
      import s.implicits._
      TextOps.scrub(
        Tables.events(s, d).select($"event_id", $"props"), "props")
        .select($"event_id", $"n_email", $"n_ipv4", $"n_number",
          $"redacted", $"clean")
    },

    // F1: token counting — whitespace tokens and a BPE-ish regex
    // tokenizer (alpha runs / digit runs as separate tokens).
    "t_tokens" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .withColumn("nrm", TextOps.norm($"text"))
        .select($"doc_id",
          size(split($"nrm", " ")).cast("long").as("n_tokens_ws"),
          expr("size(regexp_extract_all(nrm, '[a-z]+|[0-9]+', 0))").cast("long").as("n_tokens_re"),
          length($"nrm").cast("long").as("n_chars_norm"))
    },

    // F2: quality scoring from length / alpha / punct / stopword ratios.
    "t_quality" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .withColumn("nrm", TextOps.norm($"text"))
        .withColumn("w", split($"nrm", " "))
        .withColumn("n_chars", length($"nrm").cast("long"))
        .withColumn("n_alpha", length(regexp_replace($"nrm", "[^a-z]", "")).cast("long"))
        .withColumn("n_punct", length(regexp_replace($"nrm", "[a-z0-9 ]", "")).cast("long"))
        .withColumn("n_toks", size($"w").cast("long"))
        .withColumn("n_stop", expr(s"size(filter(w, x -> x IN (${inList(STOPWORDS)})))").cast("long"))
        .withColumn("alpha_ratio", $"n_alpha".cast("double") / $"n_chars".cast("double"))
        .withColumn("punct_ratio", $"n_punct".cast("double") / $"n_chars".cast("double"))
        .withColumn("stop_ratio", $"n_stop".cast("double") / $"n_toks".cast("double"))
        .withColumn("quality_score",
          lit(0.5) * $"alpha_ratio" + lit(0.3) * $"stop_ratio" + lit(0.2) * (lit(1.0) - $"punct_ratio"))
        .select($"doc_id", $"n_chars", $"n_toks", $"alpha_ratio", $"punct_ratio",
          $"stop_ratio", $"quality_score")
    },

    // F3: language-ID by stopword-profile hit counts (argmax with a
    // fixed chain order for ties; 'und' when nothing matches).
    "t_langid" -> { (s, d) =>
      import s.implicits._
      val withScores = PROFILES.foldLeft(
        Tables.documents(s, d).withColumn("w", split(TextOps.norm($"text"), " "))) {
        case (df, (lang, ws)) =>
          df.withColumn(s"s_$lang", expr(s"size(filter(w, x -> x IN (${inList(ws)})))").cast("long"))
      }
      withScores
        .withColumn("pred_lang",
          when($"s_de" + $"s_en" + $"s_es" + $"s_fr" === 0, lit("und"))
            .when($"s_de" >= $"s_en" && $"s_de" >= $"s_es" && $"s_de" >= $"s_fr", lit("de"))
            .when($"s_en" >= $"s_es" && $"s_en" >= $"s_fr", lit("en"))
            .when($"s_es" >= $"s_fr", lit("es"))
            .otherwise(lit("fr")))
        .select($"doc_id", $"pred_lang", $"lang".as("true_lang"),
          ($"pred_lang" === $"lang").as("correct"))
    },

    // F5: deterministic train/val/test splitting by content-free id
    // hash — the standard reproducible way to partition a training
    // corpus (no RNG, no seed plumbing, stable under reshuffling and
    // re-runs; a doc keeps its split when the corpus grows). Buckets
    // via the first hex char of md5(doc_id): 0..c → train (13/16),
    // d → val (1/16), e..f → test (2/16).
    "t_split" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .withColumn("h", TextOps.md5s($"doc_id".cast("string")))
        .select($"doc_id", splitCol($"h").as("split"))
    },

    // F6: benchmark decontamination — per training doc, the share of
    // its distinct 3-gram shingles that also occur in a held-out
    // benchmark set (the standard eval-leak check before training).
    // Scale shape: the benchmark side is a FIXED-size eval suite, so
    // its distinct shingle set broadcasts; the corpus side is one
    // map-side shingling pass + one broadcast semi-match + one
    // per-doc count — no corpus-wide self-join anywhere (unlike the
    // symmetric near-dup ops in pack D).
    "t_contam" -> { (s, d) =>
      import s.implicits._
      // the byte-identical set build D4/D8 share — session-cached
      // cross-pack (round 16); referenced three times (benchmark set,
      // sizes, hits)
      val sets = graft.dedup.DedupPack.ngramSets(s, d)
      val bench = sets.filter($"doc_id" < CONTAM_BENCH_BOUND)
        .select(explode($"set").as("shingle")).distinct()
      shingleOverlapCounts(sets.filter($"doc_id" >= CONTAM_BENCH_BOUND), broadcast(bench))
        .withColumn("contamination",
          $"n_hits".cast("double") / $"n_shingles".cast("double"))
        .select($"doc_id", $"n_shingles", $"n_hits", $"contamination",
          ($"contamination" >= CONTAM_THRESHOLD).as("contaminated"))
    },

    // F19: corpus-boilerplate scoring by duplicated n-grams — per
    // document, the share of its DISTINCT shingles that are common
    // corpus-wide (document frequency ≥ DUPGRAM_DF) — the
    // cross-document cousin of t_repetition's within-document signals
    // and the shingle-level cousin of t_passages' line dedup: a
    // document dominated by corpus-common n-grams is template/SEO
    // boilerplate even when no single line repeats verbatim.
    // Scale shape: one map-side shingling pass, one partial-aggregable
    // df groupBy on the shingle key, one shingle-keyed equi-join
    // carrying constant per-row state (the t_tfidf class — never a
    // posting list), one per-doc partial aggregation; the flag is an
    // exact integer cross-multiplication, the share one IEEE division.
    // Round-16 reshape (guide §2.3): the old shape attached df to
    // EVERY (doc, shingle) row (a full-volume exchange on shingle)
    // and then re-shuffled the full volume again on doc_id just to
    // count it. Only the shingles with df ≥ DUPGRAM_DF matter for
    // n_common — a far smaller (boilerplate) set — so the pair stream
    // now semi-joins against that set (broadcastable) and only the
    // HITS are shuffled per doc; n_shingles is size(set), computed
    // before the explode. Same rows: df is still #docs per shingle
    // (sets are per-doc distinct), n_common counts the same elements,
    // and docs with zero hits coalesce to 0.
    "t_dupgrams" -> { (s, d) =>
      import s.implicits._
      // the byte-identical set build D4/D8 share — session-cached
      // cross-pack (round 16)
      val sets = graft.dedup.DedupPack.ngramSets(s, d)
      val common = sets.select(explode($"set").as("shingle"))
        .groupBy($"shingle").agg(count(lit(1)).as("df"))
        .filter($"df" >= DUPGRAM_DF).select($"shingle")
      val hits = sets.select($"doc_id", explode($"set").as("shingle"))
        .join(common, Seq("shingle"), "left_semi")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_common"))
      sets.select($"doc_id", size($"set").cast("long").as("n_shingles"))
        .join(hits, Seq("doc_id"), "left")
        .withColumn("n_common", coalesce($"n_common", lit(0L)))
        .withColumn("common_share",
          $"n_common".cast("double") / $"n_shingles".cast("double"))
        .select($"doc_id", $"n_shingles", $"n_common", $"common_share",
          ($"n_common" * 2 >= $"n_shingles").as("boilerplate_heavy"))
    },

    // F6b: Bloom-filter decontamination — the flag-only variant of
    // t_contam for the 100 TB corpus sweep. The benchmark shingle set
    // is folded into an m-bit Bloom filter ([[graft.functions
    // .BloomBits]]): the corpus-side membership test becomes k
    // codegen'd hash+mask ops per shingle — NO join against the bench
    // set, and the "broadcast" is m bits (8 KiB here) no matter how
    // many benchmarks accumulate. Zero false negatives by
    // construction (a contaminated doc can never slip through), FPs
    // bounded by (1−e^(−kn/m))^k. The emitted guarantees — bloom hit
    // count ≥ exact hit count per doc, bloom flag a superset of the
    // exact flag — are proved against the exact broadcast-join path
    // and hash-checked cross-engine; exact n_hits rides along as the
    // fully cross-checkable column.
    "t_bloom_contam" -> { (s, d) =>
      import s.implicits._
      // the byte-identical set build D4/D8 share — session-cached
      // cross-pack (round 16); consumed by the bench build + train
      // probe
      val sets = graft.dedup.DedupPack.ngramSets(s, d)
      val bench = sets.filter($"doc_id" < CONTAM_BENCH_BOUND)
        .select(explode($"set").as("shingle")).distinct()
      val bits = graft.functions.BloomBits.build(bench, $"shingle", BLOOM_M, BLOOM_K)
      val probe = sets.filter($"doc_id" >= CONTAM_BENCH_BOUND)
        .select($"doc_id", size($"set").cast("long").as("n_shingles"),
          explode($"set").as("shingle"))
        .join(broadcast(bench.withColumn("exact", lit(true))), Seq("shingle"), "left")
        .groupBy($"doc_id", $"n_shingles")
        .agg(
          sum(when($"exact", 1L).otherwise(0L)).as("n_hits"),
          sum(when(graft.functions.BloomBits
            .mightContain(bits, $"shingle", BLOOM_M, BLOOM_K), 1L).otherwise(0L))
            .as("n_bloom"))
      probe.select($"doc_id", $"n_shingles", $"n_hits",
        ($"n_bloom" >= $"n_hits").as("no_false_neg"),
        (($"n_bloom".cast("double") / $"n_shingles".cast("double") >= CONTAM_THRESHOLD) ||
          !($"n_hits".cast("double") / $"n_shingles".cast("double") >= CONTAM_THRESHOLD))
          .as("flag_superset"))
    },

    // F7: deterministic stratified balancing — cap each language at a
    // fixed quota, choosing survivors by content-free id-hash rank
    // (the corpus data-mixing step). No RNG: the same corpus always
    // keeps the same docs, and adding documents of one language never
    // perturbs another's sample. One window shuffle on the stratum
    // key; strata are bounded by the quota so the window never sorts
    // more than a language's docs.
    "t_balance" -> { (s, d) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy($"h".asc, $"doc_id".asc)
      Tables.documents(s, d)
        .withColumn("h", TextOps.md5s($"doc_id".cast("string")))
        .withColumn("pick_rank", row_number().over(w).cast("long"))
        .filter($"pick_rank" <= BALANCE_QUOTA)
        .select($"doc_id", $"lang", $"pick_rank")
    },

    // F8: corpus mixing — deterministic weighted up/down-sampling per
    // source (the "data mixture" step before training: weight up
    // high-quality sources, thin out the rest). Each doc emits
    // ⌊w⌋ + Bernoulli(frac(w)) copies, with the Bernoulli draw a pure
    // function of doc_id (md5-prefix threshold), so the mixture is
    // reproducible row-for-row across engines and runs. Map-side only:
    // no shuffle at any scale (filter + bounded explode).
    "t_mix" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .withColumn("h2", substring(
          TextOps.md5s(concat(lit("mix_"), $"doc_id".cast("string"))), 1, 2))
        .withColumn("n_copies", nCopiesCol($"h2"))
        .filter($"n_copies" >= 1)
        .select($"doc_id", $"source",
          explode(sequence(lit(1L), $"n_copies")).as("rep"))
    },

    // F9: the end-to-end corpus pipeline — exact-dedup survivors →
    // deterministic split assignment → weighted source mixing, as ONE
    // composed DataFrame plan (the composition is the point: each
    // stage is an operator this pack already exposes standalone, and
    // Catalyst fuses the whole chain into window + map-side stages
    // with no extra scans). This is the "prepare the training
    // corpus" query a user of the engine actually runs.
    "t_pipeline" -> { (s, d) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"norm_hash")
      Tables.documents(s, d)
        .withColumn("norm_hash", TextOps.md5s(TextOps.norm($"text")))
        .withColumn("survivor_id", min($"doc_id").over(w))
        .filter($"doc_id" === $"survivor_id")
        .withColumn("h", TextOps.md5s($"doc_id".cast("string")))
        .withColumn("split", splitCol($"h"))
        .withColumn("h2", substring(
          TextOps.md5s(concat(lit("mix_"), $"doc_id".cast("string"))), 1, 2))
        .withColumn("n_copies", nCopiesCol($"h2"))
        .filter($"n_copies" >= 1 && $"split" === "train")
        .select($"doc_id", $"source", $"lang", $"split",
          explode(sequence(lit(1L), $"n_copies")).as("rep"))
    },

    // F10: repetition signals — the Gopher-style repetition filters
    // (duplicated-vocabulary ratio, most-frequent-word share,
    // most-frequent-bigram share). Scale shape: one explode + two
    // partial-aggregable groupBys per signal family; per-doc state is
    // a handful of counters however long the document is — no
    // collect_list of tokens, no per-doc sort.
    "t_repetition" -> { (s, d) =>
      import s.implicits._
      // two consumers (word stats + bigram stats): a lazy
      // localCheckpoint runs the scan + normalize + split once and
      // lets the ContextCleaner reclaim the blocks (vs persist(),
      // which leaked them for the session's lifetime)
      val base = Tables.documents(s, d)
        .select($"doc_id", split(TextOps.norm($"text"), " ").as("w"))
        .localCheckpoint(false)
      val wordStats = base
        .select($"doc_id", explode($"w").as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(sum($"c").as("n_toks"), count(lit(1)).as("n_distinct"),
          max($"c").as("top_word_c"))
      val bigramStats = base
        .filter(size($"w") >= 2)
        // w[i] is 0-based in Spark; the oracle's string_split list is
        // 1-based — both enumerate (w1 w2), (w2 w3), ...
        .select($"doc_id",
          explode(expr("transform(sequence(1, size(w)-1), i -> concat(w[i-1], ' ', w[i]))")).as("bg"))
        .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(sum($"c").as("n_bigrams"), max($"c").as("top_bigram_c"))
      wordStats.join(bigramStats, Seq("doc_id"), "left")
        .withColumn("distinct_ratio", $"n_distinct".cast("double") / $"n_toks".cast("double"))
        .withColumn("top_word_frac", $"top_word_c".cast("double") / $"n_toks".cast("double"))
        .withColumn("top_bigram_frac",
          coalesce($"top_bigram_c".cast("double") / $"n_bigrams".cast("double"), lit(0.0)))
        .select($"doc_id", $"n_toks", $"distinct_ratio", $"top_word_frac", $"top_bigram_frac",
          ($"top_word_frac" > REP_TOP_WORD || $"top_bigram_frac" > REP_TOP_BIGRAM ||
            $"distinct_ratio" < REP_MIN_DISTINCT).as("repetitive"))
    },

    // F11: TF-IDF keyword extraction — top-3 terms per document by
    // tf × (N / df), with a RATIONAL idf (tf·N exact in long, one
    // IEEE double division) instead of a log so both engines emit
    // bit-identical scores. Scale shape: tf and df are two
    // partial-aggregable groupBys; the df join shuffles on the term
    // key (vocabulary-scaled, not corpus-scaled); the corpus count is
    // a one-row broadcast; per-doc ranking windows are bounded by
    // document vocabulary.
    // F14: bigram-LM frequency scoring — a statistical language-model
    // quality proxy (the cheap cousin of perplexity filtering): score
    // each document by the mean CORPUS frequency of its bigrams, so
    // documents made of never-seen-elsewhere word sequences score low
    // and formulaic/common text scores high. Kept log-free on purpose:
    // integer corpus counts + ONE IEEE division are bit-identical
    // cross-engine (a log-prob would differ in final ulps between
    // engines). Scale shape: the bigram frequency table is
    // vocabulary²-bounded (not corpus-scaled); both aggregations are
    // partial-aggregable; the frequency join shuffles on the bigram
    // key.
    "t_bigram_lm" -> { (s, d) =>
      import s.implicits._
      val bg = Tables.documents(s, d)
        .select($"doc_id", split(TextOps.norm($"text"), " ").as("w"))
        .filter(size($"w") >= 2)
        // w[i] is 0-based in Spark; the oracle's string_split list is
        // 1-based — both enumerate (w1 w2), (w2 w3), ...
        .select($"doc_id",
          explode(expr("transform(sequence(1, size(w)-1), i -> concat(w[i-1], ' ', w[i]))")).as("bg"))
        .localCheckpoint(false) // two consumers: corpus freqs + per-doc join
      val freq = bg.groupBy($"bg").agg(count(lit(1)).as("f"))
      bg.join(freq, "bg")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum($"f").as("sum_freq"))
        .select($"doc_id", $"n_bigrams", $"sum_freq",
          ($"sum_freq".cast("double") / $"n_bigrams".cast("double")).as("avg_bigram_freq"))
    },

    "t_tfidf" -> { (s, d) =>
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select($"doc_id", explode(split(TextOps.norm($"text"), " ")).as("term"))
      val tf = toks.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val ndocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"score".desc, $"term".asc)
      tf.join(dfreq, "term")
        .crossJoin(broadcast(ndocs))
        .withColumn("score",
          ($"tf" * $"n_docs").cast("double") / $"df".cast("double"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter($"rank" <= 3)
        .select($"doc_id", $"rank", $"term", $"score")
    },

    // F17: corpus vocabulary statistics — per-language token count,
    // vocabulary size, type-token ratio, hapax-legomenon share and
    // top-word mass: the Zipf-shape profile a corpus audit reads
    // before training (a collapsing TTR or exploding hapax share
    // flags boilerplate or OCR noise respectively). Two shuffles,
    // both fully partial-aggregable: tokens combine map-side into
    // (lang, term) partial counts, then term rows collapse to one
    // bounded row per language — at 100 TB the second stage input is
    // |vocab|, not corpus size. Ratios are single IEEE divisions of
    // exact integers (cross-engine bit-equal).
    // F24: readability scoring (Flesch reading ease — the classic
    // quality-filter feature next to F2's ratio heuristics): exact
    // integer sentence/word/syllable-group counts per document (runs
    // of [.!?] / whitespace tokens / vowel runs — the standard
    // syllable approximation), then the Flesch formula with PINNED
    // IEEE op order (two divisions, two multiplies, two subtracts —
    // identical sequence in the oracle, so doubles match
    // bit-for-bit). Pure row-local codegen'd regex: ZERO shuffle at
    // any corpus size. Sentence counts floor at 1 so fragment-only
    // documents (like the synthetic corpus) stay defined.
    "t_readability" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d).select(
        $"doc_id",
        greatest(lit(1L),
          size(regexp_extract_all($"text", lit("[.!?]+"), lit(0))).cast("long")).as("n_sentences"),
        size(split(TextOps.norm($"text"), " ")).cast("long").as("n_words"),
        size(regexp_extract_all(lower($"text"), lit("[aeiouy]+"), lit(0))).cast("long").as("n_syllables"))
        .withColumn("flesch",
          lit(206.835) -
            lit(1.015) * ($"n_words".cast("double") / $"n_sentences".cast("double")) -
            lit(84.6) * ($"n_syllables".cast("double") / $"n_words".cast("double")))
    },

    // F23: word-frequency spectrum (count-of-counts — the Zipf/Heaps
    // diagnostic behind vocabulary-growth and tokenizer-budget
    // decisions; the f=1 row IS the hapax mass F11 summarizes): per
    // language, how many distinct types occur exactly f times, with
    // exact type/token shares. Scale shape: term frequencies are one
    // partial-aggregable groupBy; the spectrum re-aggregates the
    // VOCAB-bounded frequency table; the totals join is per-lang
    // (bounded); distinct-f row count grows ~O(√tokens), so the
    // output stays tiny at any corpus size. All integers exact; the
    // two shares are single IEEE divisions.
    "t_freqspec" -> { (s, d) =>
      import s.implicits._
      val freq = Tables.documents(s, d)
        .select($"lang", explode(split(TextOps.norm($"text"), " ")).as("term"))
        .groupBy($"lang", $"term").agg(count(lit(1)).as("f"))
      val spec = freq.groupBy($"lang", $"f").agg(count(lit(1)).as("n_types"))
      val tot = spec.groupBy($"lang")
        .agg(sum($"n_types").as("vocab"), sum($"f" * $"n_types").as("n_tokens"))
      spec.join(tot, "lang")
        .select($"lang", $"f", $"n_types",
          ($"n_types".cast("double") / $"vocab".cast("double")).as("type_share"),
          (($"f" * $"n_types").cast("double") / $"n_tokens".cast("double")).as("token_share"))
    },

    "t_vocab" -> { (s, d) =>
      import s.implicits._
      // no fanOut: the tokenizer here is pure codegen (split+explode,
      // no UDF), so there is no CPU hotspot to spread — adding the
      // repartition would be a third, corpus-sized shuffle
      val freq = Tables.documents(s, d)
        .select($"lang", explode(split(TextOps.norm($"text"), " ")).as("term"))
        .groupBy($"lang", $"term").agg(count(lit(1)).as("f"))
      freq.groupBy($"lang")
        .agg(sum($"f").as("n_tokens"),
          count(lit(1)).as("vocab"),
          sum(when($"f" === 1L, 1L).otherwise(0L)).as("hapax"),
          max($"f").as("top_f"))
        .select($"lang", $"n_tokens", $"vocab", $"hapax", $"top_f",
          ($"vocab".cast("double") / $"n_tokens".cast("double")).as("type_token_ratio"),
          ($"hapax".cast("double") / $"vocab".cast("double")).as("hapax_share"),
          ($"top_f".cast("double") / $"n_tokens".cast("double")).as("top_share"))
    },

    // F21: split-leakage audit — F5's assignment composed with F6's
    // shingle overlap: for every TEST-split document, how many of its
    // distinct 3-gram shingles also occur in any TRAIN-split document
    // (train/test contamination through near-duplicate text — the
    // eval-hygiene check a dedup pass can miss when near-dups straddle
    // the split boundary). Scale shape: the train shingle set is NOT
    // broadcast (train is most of the corpus, unlike F6's fixed-size
    // benchmark) — the probe is a shingle-keyed equi-JOIN carrying
    // constant per-row state, then one per-doc count; the shingling
    // pass is shared via a lazy localCheckpoint.
    "t_leakage" -> { (s, d) =>
      import s.implicits._
      // the shared set build plus the split column, which is a pure
      // function of doc_id — stamped ON TOP of the cached sets
      // instead of re-running the shingling pass (round 16)
      val sets = graft.dedup.DedupPack.ngramSets(s, d)
        .withColumn("split", splitCol(TextOps.md5s($"doc_id".cast("string"))))
      val trainShingles = sets.filter($"split" === "train")
        .select(explode($"set").as("shingle")).distinct()
      shingleOverlapCounts(sets.filter($"split" === "test"), trainShingles)
        .select($"doc_id", $"n_shingles", $"n_hits".as("n_shared"),
          ($"n_hits" * 2L >= $"n_shingles").as("leaked"))
    },

    // F20: collocation mining — the top bigrams by PMI LIFT, the
    // corpus statistic behind phrase detection / tokenizer-merge
    // candidates (word2vec-phrases style). PMI itself is a log, and
    // libm logs are not bit-identical across engines — but log is
    // monotone, so ranking by the RAW lift c_ab·N / (c_a·c_b) is
    // ranking by PMI, and the lift is one IEEE division of two exact
    // integer products (cross-engine bit-equal; products stay ≪ 2^53
    // at any tested scale). Marginals c_a (as first word), c_b (as
    // second) and N re-aggregate from the bigram-count table itself —
    // vocab²-bounded, not corpus-bounded. Scale shape: one bounded
    // per-doc window builds bigrams, one partial-aggregable shuffle
    // counts them; the one-row total N is a broadcast (t_tfidf's
    // pattern); the top-20 is TakeOrderedAndProject (bounded heaps),
    // and only the 20 survivors cross the ranking window.
    "t_colloc" -> { (s, d) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"pos")
      val bi = Tables.documents(s, d)
        .select($"doc_id", posexplode(split(TextOps.norm($"text"), " ")).as(Seq("pos", "wa")))
        .withColumn("wb", lead($"wa", 1).over(w))
        .filter($"wb".isNotNull)
      val cnt = bi.groupBy($"wa", $"wb").agg(count(lit(1)).as("c_ab"))
        .localCheckpoint(false) // consumed by marginals, total and scoring
      val ca = cnt.groupBy($"wa").agg(sum($"c_ab").as("c_a"))
      val cb = cnt.groupBy($"wb").agg(sum($"c_ab").as("c_b"))
      val tot = cnt.agg(sum($"c_ab").as("n_bi"))
      val scored = cnt.filter($"c_ab" >= 5)
        .join(ca, "wa").join(cb, "wb")
        .crossJoin(broadcast(tot))
        .withColumn("lift",
          ($"c_ab" * $"n_bi").cast("double") / ($"c_a" * $"c_b").cast("double"))
      scored.orderBy($"lift".desc, $"wa".asc, $"wb".asc).limit(20)
        .withColumn("rank", row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy($"lift".desc, $"wa".asc, $"wb".asc)).cast("long"))
        .select($"rank", $"wa", $"wb", $"c_ab", $"lift")
    },

    // F25 (round-13): BPE MERGE LEARNING — the tokenizer-training
    // primitive itself (Sennrich 2016), next to F1's tokenize-WITH-a-
    // tokenizer and F20's collocation candidates: BPE_STEPS rounds of
    //   (1) count adjacent token pairs corpus-wide,
    //   (2) take the argmax pair (count desc, then lexicographic —
    //       a unique total order, so the learned table is exact),
    //   (3) merge every adjacent occurrence into one token,
    // over word-level sequences (word-boundary-respecting merges —
    // the word-internal character stage is the same algorithm one
    // level down). EQUAL-token pairs are excluded from candidacy, the
    // documented determinism contract: with l ≠ r two matches can
    // never overlap (a mark at i and i+1 would need tok_{i+1} = l =
    // r), so the merge pass is ONE window expression with no
    // greedy-chain ambiguity for either engine to resolve.
    // Scale shape: pair counting is a lead() over the doc-partitioned
    // window + a partial-aggregable groupBy; the argmax is
    // TakeOrderedAndProject (bounded heaps, one row to the driver —
    // the merge RULE is driver state by nature, exactly like a real
    // tokenizer trainer's); the merge pass is two window functions
    // over the same doc partitioning; each round's sequences are
    // checkpointed so round k+1 reads blocks, not a k-deep window
    // tower. K is a constant; total cost K × (one window + one
    // bounded-key shuffle) — linear in the corpus at any scale.
    "t_bpe" -> { (s, d) => bpeMerges(s, d, BPE_STEPS) },

    // F26 (round-14): BPE ENCODE — the apply half of F25's trainer,
    // making the tokenizer end-to-end: learn merges (cached — one
    // trainer run feeds both keys), then encode the RAW corpus by
    // applying the merge table greedily in learned step order (the
    // standard BPE apply loop; see [[bpeEncode]]). Per doc: raw and
    // encoded token counts, merges applied (their difference — token
    // conservation: every merge removes exactly one token), and an
    // order-sensitive md5 of the encoded sequence, which the oracle
    // recomputes from ITS OWN unrolled trainer chain — so the
    // encoder's reconstruction of the trainer's final sequences is
    // cross-engine verified token for token, not just counted.
    "t_bpe_encode" -> { (s, d) =>
      import s.implicits._
      val rules = bpeLearn(s, d, BPE_STEPS).map { case (_, l, r, _) => (l, r) }
      val toks0 = bpeTokens(s, d)
      val raw = toks0.groupBy($"doc_id").agg(count(lit(1)).as("n_raw"))
      val enc = bpeEncode(toks0, rules)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_encoded"),
          TextOps.md5s(array_join(
            transform(array_sort(collect_list(struct($"pos", $"tok"))),
              x => x.getField("tok")), "|")).as("seq_hash"))
      raw.join(enc, "doc_id")
        .select($"doc_id", $"n_raw", $"n_encoded",
          ($"n_raw" - $"n_encoded").as("n_merged"), $"seq_hash")
    },

    // F18: deterministic weighted sampling WITHOUT replacement — an
    // exact-size sample of SAMPLE_N docs where selection probability
    // rises with an integer per-source weight, via the min-of-w-hashes
    // order statistic (the integer-weight cousin of Efraimidis-
    // Spirakis u^(1/w) keys, chosen because it needs NO pow() — pow
    // is not bit-identical across libm implementations, md5 order
    // is). Each doc's sort key = min over w copies of md5(j ||'_'||
    // id); a doc with weight w holds w independent lottery tickets.
    // Scale shape: keys are map-side (bounded ≤4-element transform);
    // the global top-N is TakeOrderedAndProject — per-partition
    // bounded heaps, the shuffle carries N rows per partition, never
    // a full sort. Deterministic: re-runs and engines agree exactly.
    "t_weighted_sample" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .withColumn("weight",
          (expr("CAST(substring(source, 4) AS INT)") % 4 + 1).cast("long"))
        .withColumn("skey",
          array_min(transform(sequence(lit(1), $"weight".cast("int")),
            j => md5(concat(j.cast("string"), lit("_"), $"doc_id".cast("string"))))))
        .orderBy($"skey".asc, $"doc_id".asc)
        .limit(SAMPLE_N)
        .select($"doc_id", $"source", $"weight", $"skey")
    },

    // F12: context-window chunking — each document's token sequence
    // split into overlapping windows (len 32, stride 24): the step
    // that turns variable-length documents into model-sized training
    // examples. Bounded explode (⌈n/stride⌉ chunks per doc) + codegen
    // slicing, no shuffle at any scale.
    "t_chunks" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .withColumn("w", split(TextOps.norm($"text"), " "))
        .withColumn("n_toks", size($"w").cast("long"))
        .filter($"n_toks" >= 1)
        .select($"doc_id", $"n_toks", $"w",
          explode(expr(s"sequence(1L, n_toks, $CHUNK_STRIDE)")).as("start"))
        .select($"doc_id", $"start",
          least(lit(CHUNK_LEN.toLong), $"n_toks" - $"start" + 1L).as("n_chunk_toks"),
          TextOps.md5s(expr(s"array_join(slice(w, CAST(start AS INT), $CHUNK_LEN), ' ')"))
            .as("chunk_hash"))
    },

    // F13: sequence packing — concatenate documents in doc_id order
    // and cut every PACK_BUDGET tokens (each doc starts in the bin
    // where its offset lands; spillover continues into the next bin).
    // Packing is SHARDED (doc_id % shards) so the running offset is a
    // per-shard window, not a single global partition — shards pack
    // in parallel at any scale and bins are (shard, bin) unique.
    "t_pack" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"shard").orderBy($"doc_id".asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .withColumn("n_toks", size(split(TextOps.norm($"text"), " ")).cast("long"))
        .withColumn("shard", ($"doc_id" % PACK_SHARDS).cast("long"))
        .withColumn("cum_before", sum($"n_toks").over(w) - $"n_toks")
        .select($"doc_id", $"shard", $"n_toks",
          ($"cum_before" / PACK_BUDGET).cast("long").as("bin_id"),
          ($"cum_before" % PACK_BUDGET).as("start_offset"))
    },

    // F16: repeated-passage (boilerplate) removal — the corpus-level
    // twin of line-dedup in CCNet-style pipelines. Each document is
    // cut into non-overlapping PASSAGE_LEN-word segments; a segment
    // appearing in ≥ PASSAGE_DF distinct documents is boilerplate and
    // is dropped; the document is reassembled in order from the
    // surviving segments (plus the sub-segment word remainder).
    // Plan shape: bounded explode (≤ n_words/PASSAGE_LEN rows/doc) →
    // one distinct+count shuffle on the segment key (map-side
    // partial; per-segment state is ONE counter, never a posting
    // list) → anti join against the df-filtered boilerplate set
    // (AQE-broadcast when small) → one doc_id shuffle to reassemble.
    "t_passages" -> { (s, d) =>
      import s.implicits._
      val base = Tables.documents(s, d)
        .select($"doc_id", split(TextOps.norm($"text"), " ").as("ws"))
        .withColumn("n_words", size($"ws").cast("long"))
        .withColumn("n_segs", ($"n_words" / PASSAGE_LEN).cast("long"))
        .withColumn("rem", array_join(
          slice($"ws", ($"n_segs" * PASSAGE_LEN + 1).cast("int"),
            ($"n_words" - $"n_segs" * PASSAGE_LEN).cast("int")), " "))
      val segs = base
        .select($"doc_id", $"ws", $"n_segs",
          explode(when($"n_segs" >= 1, sequence(lit(0L), $"n_segs" - 1))
            .otherwise(array().cast("array<long>"))).as("idx"))
        .select($"doc_id", $"idx",
          array_join(slice($"ws", ($"idx" * PASSAGE_LEN + 1).cast("int"), lit(PASSAGE_LEN)), " ")
            .as("seg"))
      val boiler = segs.select($"seg", $"doc_id").distinct()
        .groupBy($"seg").agg(count(lit(1)).as("df"))
        .filter($"df" >= PASSAGE_DF)
        .select($"seg")
      val kept = segs.join(boiler, Seq("seg"), "left_anti")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_kept"),
          array_join(transform(sort_array(collect_list(struct($"idx", $"seg"))),
            x => x.getField("seg")), " ").as("kept_segs"))
      base.join(kept, Seq("doc_id"), "left")
        .select($"doc_id", $"n_words", $"n_segs",
          ($"n_segs" - coalesce($"n_kept", lit(0L))).as("n_boiler"),
          TextOps.md5s(concat_ws(" ",
            nullif($"kept_segs", lit("")), nullif($"rem", lit("")))).as("kept_hash"))
    },

    // F4: document fingerprinting — rolling 8-char-gram md5 hashes,
    // winnowed with a 4-window minimum (standard winnowing scheme).
    "t_fingerprint" -> { (s, d) =>
      import s.implicits._
      // winnowing is md5-per-gram CPU-bound: fan the scan out first,
      // hashed on doc_id at the same partition count. doc_ids need not
      // be unique, so the distinct stays; HashPartitioning(doc_id)
      // already satisfies its (doc_id, fp) clustering, so it adds no
      // second exchange (the fan-out is the plan's one Exchange).
      Tables.documents(s, d)
        .repartition(s.sparkContext.defaultParallelism, $"doc_id")
        .withColumn("nrm", TextOps.norm($"text"))
        .filter(length($"nrm") >= FP_K + FP_W - 1)
        .withColumn("fp", explode(TextOps.winnowUdf(FP_K, FP_W)($"nrm")))
        .select($"doc_id", $"fp")
        .distinct()
    },
  )

  /** F25's trainer body: `steps` rounds of count → argmax → merge
    * over the word-level sequences (see the key comment for the
    * contract). Returns the learned merge table
    * (step, lhs, rhs, pair_count); stops early if a round finds no
    * candidate pair (single-token documents only). */
  private def bpeMerges(s: SparkSession, d: String, steps: Int): DataFrame = {
    import s.implicits._
    bpeLearn(s, d, steps).toDF("step", "lhs", "rhs", "pair_count")
  }

  /** The raw word-level `(doc_id, pos, tok)` sequence table both the
    * trainer and the encoder start from. */
  private def bpeTokens(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", posexplode(split(TextOps.norm($"text"), " ")).as(Seq("pos", "tok")))
      .select($"doc_id", $"pos".cast("long").as("pos"), $"tok")
  }

  /** One merge-table learn per (session, scale dir): F25's trainer
    * output is 6 driver-side rows consumed by BOTH t_bpe (the table
    * itself) and t_bpe_encode (the rules the encoder broadcasts into
    * its literal merge passes) — cache the rules, not the run. */
  private val bpeRuleCache =
    new graft.SessionCache[Seq[(Long, String, String, Long)]]

  private def bpeLearn(s: SparkSession, d: String,
                       steps: Int): Seq[(Long, String, String, Long)] =
    bpeRuleCache.getOrCompute(s, d, steps.toString) {
      bpeLearnUncached(s, d, steps)
    }

  private def bpeLearnUncached(s: SparkSession, d: String,
                               steps: Int): Seq[(Long, String, String, Long)] = {
    import s.implicits._
    val wdoc = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos")
    var toks = bpeTokens(s, d).localCheckpoint(true)
    val learned = Seq.newBuilder[(Long, String, String, Long)]
    var k = 1
    var exhausted = false
    while (k <= steps && !exhausted) {
      // checkpointed: BOTH the argmax action and the merge pass read
      // this round's lead() window from blocks — un-checkpointed, the
      // full-corpus window sort would run twice per round (round-13
      // third review pass)
      val paired = toks.withColumn("nxt", lead($"tok", 1).over(wdoc))
        .localCheckpoint(true)
      // the argmax rule: TakeOrderedAndProject ships ONE row per
      // partition to the driver — the rule is driver state by nature
      val top = paired
        .filter($"nxt".isNotNull && $"tok" =!= $"nxt")
        .groupBy($"tok".as("l"), $"nxt".as("r")).agg(count(lit(1)).as("c"))
        .orderBy($"c".desc, $"l".asc, $"r".asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((k.toLong, l, r, c))
        // one window pass applies the rule: a marked row swallows its
        // successor (l ≠ r ⇒ marks are never adjacent, so `consumed`
        // is exactly lag(mark))
        // no checkpoint here: the merged table is consumed exactly
        // once (by the next round's checkpointed `paired`), and its
        // lineage is row-local ops over this round's blocks
        toks = paired
          .withColumn("mark",
            coalesce($"tok" === lit(l) && $"nxt" === lit(r), lit(false)))
          .withColumn("consumed", coalesce(lag($"mark", 1).over(wdoc), lit(false)))
          .filter(!$"consumed")
          .select($"doc_id", row_number().over(wdoc).cast("long").as("pos"),
            when($"mark", lit(s"$l $r")).otherwise($"tok").as("tok"))
        k += 1
      }
    }
    learned.result()
  }

  /** F26's standalone BPE ENCODER: apply an already-learned merge
    * table to a `(doc_id, pos, tok)` sequence table, rules in learned
    * step order — the standard greedy BPE apply loop, each rule by
    * the SAME mark/consumed algebra as the trainer's merge step, so
    * encode(raw, rules) reproduces the trainer's final sequences
    * exactly — the reconciliation the oracle and BpeEncodeSpec pin.
    * The rules are driver-side constants (a tokenizer's merge table
    * IS broadcast state).
    *
    * Scale shape (round 15): ONE doc-partitioned sort, then every
    * rule applied locally per document in a single mapPartitions
    * pass. The old form ran each rule as its own window pass — K
    * in-partition sorts of the whole corpus plus 3K window evals for
    * an algebra whose scope is one document (measured 3.0 s at sf0.1
    * with the trainer cached; guide §1.2 step 2). Per-task state is
    * one document\'s token buffer — the identical bound the window
    * partition already imposed. [[bpeApplyRule]] replicates the
    * mark/consumed pass verbatim: marks against the sequence state
    * BEFORE the pass, a position is consumed by the mark to its
    * LEFT (lag semantics — the previous POSITION, consumed or not). */
  private[text] def bpeApplyRule(toks: collection.IndexedSeq[String], l: String,
                                 r: String): collection.IndexedSeq[String] = {
    val n = toks.length
    val mark = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      mark(i) = i + 1 < n && toks(i) == l && toks(i + 1) == r
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[String](n)
    i = 0
    while (i < n) {
      if (!(i > 0 && mark(i - 1))) out += (if (mark(i)) s"$l $r" else toks(i))
      i += 1
    }
    out
  }

  private[text] def bpeEncode(toks0: DataFrame,
                              rules: Seq[(String, String)]): DataFrame = {
    val s = toks0.sparkSession
    import s.implicits._
    toks0
      .select($"doc_id".cast("long").as("_1"), $"pos".cast("long").as("_2"),
        $"tok".as("_3"))
      .repartition($"_1")
      .sortWithinPartitions($"_1", $"_2")
      .as[(Long, Long, String)]
      .mapPartitions { it =>
        // contiguous same-doc runs (guaranteed by the sort) fold
        // through the rules one document at a time
        new Iterator[(Long, Long, String)] {
          private val buf = it.buffered
          private var out: Iterator[(Long, Long, String)] = Iterator.empty
          private def refill(): Unit =
            while (!out.hasNext && buf.hasNext) {
              val doc = buf.head._1
              val toks = new scala.collection.mutable.ArrayBuffer[String]
              while (buf.hasNext && buf.head._1 == doc) toks += buf.next()._3
              val enc = rules.foldLeft(toks: collection.IndexedSeq[String]) {
                case (t, (l, r)) => bpeApplyRule(t, l, r)
              }
              out = enc.iterator.zipWithIndex.map { case (t, i) => (doc, i + 1L, t) }
            }
          def hasNext: Boolean = { refill(); out.hasNext }
          def next(): (Long, Long, String) = { refill(); out.next() }
        }
      }
      .toDF("doc_id", "pos", "tok")
  }

  /** F25/F26's shared oracle scaffold: the trainer unrolled — word
    * sequences `t0`, then per step k pair counts (`pk`) → the unique
    * argmax (`mk`: count desc, lexicographic) → the merge applied by
    * the same mark/consumed window algebra (`sk` → `tk`). LEFT JOIN m
    * ON TRUE keeps sequences flowing when a step finds no pair
    * (mark = false everywhere), matching the engine's early stop:
    * later steps then also find no pair and the merge table simply
    * ends. Returns the CTE list from `toks` through `t$BPE_STEPS`
    * (no leading WITH). */
  private def bpeChainSql(nrmSql: String): String = {
    val steps = (1 to BPE_STEPS).map { k =>
      val t = s"t${k - 1}"
      s"""p$k AS (SELECT tok AS l, nxt AS r, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |  SELECT tok, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt FROM $t)
         | WHERE nxt IS NOT NULL AND tok <> nxt GROUP BY 1, 2),
         |m$k AS (SELECT l, r, c FROM p$k ORDER BY c DESC, l ASC, r ASC LIMIT 1),
         |s$k AS (SELECT doc_id, pos, tok, mark,
         |         lag(mark) OVER (PARTITION BY doc_id ORDER BY pos) AS consumed, l, r
         |        FROM (SELECT t.doc_id, t.pos, t.tok,
         |                coalesce(t.tok = m.l AND lead(t.tok) OVER (PARTITION BY t.doc_id ORDER BY t.pos) = m.r, FALSE) AS mark,
         |                m.l AS l, m.r AS r
         |              FROM $t t LEFT JOIN m$k m ON TRUE)),
         |t$k AS (SELECT doc_id,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS pos,
         |         CASE WHEN mark THEN l || ' ' || r ELSE tok END AS tok
         |        FROM s$k WHERE NOT coalesce(consumed, FALSE))""".stripMargin
    }.mkString(",\n")
    s"""toks AS (SELECT doc_id, string_split($nrmSql, ' ') AS w FROM documents),
       |t0 AS (
       | SELECT doc_id, CAST(t.i AS BIGINT) AS pos, w[CAST(t.i AS INT)] AS tok
       | FROM toks, UNNEST(range(1, len(w) + 1)) t(i)),
       |$steps""".stripMargin
  }

  override def oracles: Map[String, String] = {
    val nrmSql = TextOps.nrmSql
    Map(
      // stage patterns come verbatim from TextOps.scrubStages (one
      // source of truth for both engines; RE2∩Java syntax only)
      "t_scrub" -> {
        val Seq((c1, p1, r1), (c2, p2, r2), (c3, p3, r3)) = TextOps.scrubStages
        s"""WITH s0 AS (SELECT event_id, props AS cur FROM events),
           |s1 AS (SELECT event_id,
           |  CAST(len(regexp_extract_all(cur, '$p1')) AS BIGINT) AS n_$c1,
           |  regexp_replace(cur, '$p1', '$r1', 'g') AS cur FROM s0),
           |s2 AS (SELECT event_id, n_$c1,
           |  CAST(len(regexp_extract_all(cur, '$p2')) AS BIGINT) AS n_$c2,
           |  regexp_replace(cur, '$p2', '$r2', 'g') AS cur FROM s1),
           |s3 AS (SELECT event_id, n_$c1, n_$c2,
           |  CAST(len(regexp_extract_all(cur, '$p3')) AS BIGINT) AS n_$c3,
           |  regexp_replace(cur, '$p3', '$r3', 'g') AS cur FROM s2)
           |SELECT event_id, n_$c1, n_$c2, n_$c3, cur AS redacted,
           | n_$c1 + n_$c2 + n_$c3 = 0 AS clean
           |FROM s3""".stripMargin
      },
      // F25: the trainer unrolled — per step k, pair counts (pk) →
      // the unique argmax (mk: count desc, lexicographic) → the merge
      // applied by the same mark/consumed window algebra (sk → tk).
      // LEFT JOIN m ON TRUE keeps sequences flowing when a step finds
      // no pair (mark = false everywhere), matching the engine's
      // early stop: later steps then also find no pair and the merge
      // table simply ends.
      "t_bpe" -> {
        val out = (1 to BPE_STEPS).map(k =>
          s"SELECT CAST($k AS BIGINT) AS step, l AS lhs, r AS rhs, c AS pair_count FROM m$k")
          .mkString("\nUNION ALL ")
        s"""WITH ${bpeChainSql(nrmSql)}
           |$out""".stripMargin
      },
      // F26: the encode oracle re-derives the trainer's final
      // sequences (t$BPE_STEPS) through the SAME unrolled chain and
      // hashes them per doc — cross-checking that the engine's
      // standalone encoder reproduces the trainer token for token.
      "t_bpe_encode" ->
        s"""WITH ${bpeChainSql(nrmSql)},
           |raw AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_raw FROM t0 GROUP BY 1),
           |enc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_encoded,
           |         md5(string_agg(tok, '|' ORDER BY pos)) AS seq_hash
           |        FROM t$BPE_STEPS GROUP BY 1)
           |SELECT r.doc_id, r.n_raw, e.n_encoded,
           | r.n_raw - e.n_encoded AS n_merged, e.seq_hash
           |FROM raw r JOIN enc e USING (doc_id)""".stripMargin,

      // lift = one IEEE division of exact integer products (the log
      // step of PMI is monotone, so the rank order is PMI's)
      "t_colloc" ->
        s"""WITH toks AS (SELECT doc_id, string_split($nrmSql, ' ') AS w FROM documents),
           |bi AS (
           | SELECT w[CAST(t.i AS INT)] AS wa, w[CAST(t.i AS INT) + 1] AS wb
           | FROM toks, UNNEST(range(1, len(w))) t(i)),
           |cnt AS (SELECT wa, wb, CAST(COUNT(*) AS BIGINT) AS c_ab FROM bi GROUP BY 1, 2),
           |ca AS (SELECT wa, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM cnt GROUP BY 1),
           |cb AS (SELECT wb, CAST(SUM(c_ab) AS BIGINT) AS c_b FROM cnt GROUP BY 1),
           |tot AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_bi FROM cnt)
           |SELECT rank, wa, wb, c_ab, lift FROM (
           | SELECT wa, wb, c_ab,
           |  CAST(c_ab * n_bi AS DOUBLE) / CAST(c_a * c_b AS DOUBLE) AS lift,
           |  CAST(ROW_NUMBER() OVER (ORDER BY
           |    CAST(c_ab * n_bi AS DOUBLE) / CAST(c_a * c_b AS DOUBLE) DESC,
           |    wa ASC, wb ASC) AS BIGINT) AS rank
           | FROM cnt JOIN ca USING (wa) JOIN cb USING (wb) CROSS JOIN tot
           | WHERE c_ab >= 5) t
           |WHERE rank <= 20""".stripMargin,
      "t_readability" ->
        s"""WITH c AS (
           | SELECT doc_id,
           |  GREATEST(CAST(1 AS BIGINT),
           |   CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sentences,
           |  CAST(len(string_split($nrmSql, ' ')) AS BIGINT) AS n_words,
           |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
           | FROM documents)
           |SELECT doc_id, n_sentences, n_words, n_syllables,
           | CAST(206.835 AS DOUBLE) -
           |  CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) -
           |  CAST(84.6 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) AS flesch
           |FROM c""".stripMargin,
      "t_freqspec" ->
        s"""WITH freq AS (
           | SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS f
           | FROM (SELECT lang, UNNEST(string_split($nrmSql, ' ')) AS term FROM documents)
           | GROUP BY 1, 2),
           |spec AS (
           | SELECT lang, f, CAST(COUNT(*) AS BIGINT) AS n_types FROM freq GROUP BY 1, 2),
           |tot AS (
           | SELECT lang, CAST(SUM(n_types) AS BIGINT) AS vocab,
           |  CAST(SUM(f * n_types) AS BIGINT) AS n_tokens
           | FROM spec GROUP BY 1)
           |SELECT s.lang, s.f, s.n_types,
           | CAST(s.n_types AS DOUBLE) / CAST(t.vocab AS DOUBLE) AS type_share,
           | CAST(s.f * s.n_types AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) AS token_share
           |FROM spec s JOIN tot t ON s.lang = t.lang""".stripMargin,
      "t_vocab" ->
        s"""WITH freq AS (
           | SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS f
           | FROM (SELECT lang, UNNEST(string_split($nrmSql, ' ')) AS term FROM documents)
           | GROUP BY 1, 2),
           |agg AS (
           | SELECT lang, CAST(SUM(f) AS BIGINT) AS n_tokens,
           |  CAST(COUNT(*) AS BIGINT) AS vocab,
           |  CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           |  MAX(f) AS top_f
           | FROM freq GROUP BY 1)
           |SELECT lang, n_tokens, vocab, hapax, top_f,
           | CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS type_token_ratio,
           | CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE) AS hapax_share,
           | CAST(top_f AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_share
           |FROM agg""".stripMargin,
      "t_weighted_sample" ->
        s"""WITH w AS (
           | SELECT doc_id, source,
           |  CAST(CAST(substr(source, 4) AS INT) % 4 + 1 AS BIGINT) AS weight
           | FROM documents),
           |k AS (
           | SELECT doc_id, MIN(md5(j || '_' || CAST(doc_id AS VARCHAR))) AS skey
           | FROM w, UNNEST(range(1, weight + 1)) t(j) GROUP BY doc_id)
           |SELECT w.doc_id, w.source, w.weight, k.skey
           |FROM w JOIN k USING (doc_id)
           |ORDER BY k.skey, w.doc_id LIMIT $SAMPLE_N""".stripMargin,
      "t_tokens" ->
        s"""SELECT doc_id,
           | CAST(len(string_split(nrm, ' ')) AS BIGINT) AS n_tokens_ws,
           | CAST(len(regexp_extract_all(nrm, '[a-z]+|[0-9]+')) AS BIGINT) AS n_tokens_re,
           | CAST(length(nrm) AS BIGINT) AS n_chars_norm
           |FROM (SELECT doc_id, $nrmSql AS nrm FROM documents)""".stripMargin,
      "t_quality" ->
        s"""WITH base AS (
           | SELECT doc_id, nrm, string_split(nrm, ' ') AS w,
           |  CAST(length(nrm) AS BIGINT) AS n_chars,
           |  CAST(length(regexp_replace(nrm, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
           |  CAST(length(regexp_replace(nrm, '[a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct
           | FROM (SELECT doc_id, $nrmSql AS nrm FROM documents)),
           |r AS (
           | SELECT doc_id, n_chars, CAST(len(w) AS BIGINT) AS n_toks,
           |  CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE) AS alpha_ratio,
           |  CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
           |  CAST(len(list_filter(w, x -> x IN (${inList(STOPWORDS)}))) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS stop_ratio
           | FROM base)
           |SELECT doc_id, n_chars, n_toks, alpha_ratio, punct_ratio, stop_ratio,
           | 0.5 * alpha_ratio + 0.3 * stop_ratio + 0.2 * (1.0 - punct_ratio) AS quality_score
           |FROM r""".stripMargin,
      "t_langid" -> {
        val scores = PROFILES.map { case (lang, ws) =>
          s"CAST(len(list_filter(w, x -> x IN (${inList(ws)}))) AS BIGINT) AS s_$lang"
        }.mkString(", ")
        s"""WITH sc AS (
           | SELECT doc_id, lang, $scores
           | FROM (SELECT doc_id, lang, string_split($nrmSql, ' ') AS w FROM documents))
           |SELECT doc_id,
           | CASE WHEN s_de + s_en + s_es + s_fr = 0 THEN 'und'
           |  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
           |  WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
           |  WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS pred_lang,
           | lang AS true_lang,
           | (CASE WHEN s_de + s_en + s_es + s_fr = 0 THEN 'und'
           |  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
           |  WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
           |  WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END) = lang AS correct
           |FROM sc""".stripMargin
      },
      "t_mix" ->
        s"""WITH w AS (
           | SELECT doc_id, source, $nCopiesSql AS n_copies
           | FROM documents)
           |SELECT doc_id, source, CAST(i AS BIGINT) AS rep
           |FROM w, UNNEST(range(1, n_copies + 1)) t(i)
           |WHERE n_copies >= 1""".stripMargin,
      "t_pipeline" ->
        s"""WITH surv AS (
           | SELECT doc_id, source, lang
           | FROM (SELECT doc_id, source, lang,
           |        MIN(doc_id) OVER (PARTITION BY md5($nrmSql)) AS survivor_id
           |       FROM documents) t
           | WHERE doc_id = survivor_id),
           |split AS (
           | SELECT *, $splitSql AS split
           | FROM surv),
           |mixed AS (
           | SELECT doc_id, source, lang, split, $nCopiesSql AS n_copies
           | FROM split WHERE split = 'train')
           |SELECT doc_id, source, lang, split, CAST(i AS BIGINT) AS rep
           |FROM mixed, UNNEST(range(1, n_copies + 1)) t(i)
           |WHERE n_copies >= 1""".stripMargin,
      "t_split" ->
        s"""SELECT doc_id, $splitSql AS split
           |FROM documents""".stripMargin,
      "t_balance" ->
        s"""SELECT doc_id, lang, pick_rank FROM (
           | SELECT doc_id, lang,
           |  CAST(ROW_NUMBER() OVER (PARTITION BY lang
           |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS BIGINT) AS pick_rank
           | FROM documents) t
           |WHERE pick_rank <= $BALANCE_QUOTA""".stripMargin,
      "t_leakage" ->
        s"""WITH toks AS (SELECT doc_id, $splitSql AS split, string_split($nrmSql, ' ') AS w FROM documents),
           |sh AS (SELECT DISTINCT doc_id, split, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           |       FROM toks, UNNEST(range(1, len(w)-1)) AS t(i) WHERE len(w) >= 3),
           |train AS (SELECT DISTINCT shingle FROM sh WHERE split = 'train'),
           |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM sh
           |       WHERE split = 'test' GROUP BY 1),
           |hits AS (SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
           |         FROM sh s JOIN train t USING (shingle)
           |         WHERE s.split = 'test' GROUP BY 1)
           |SELECT z.doc_id, z.n_shingles, COALESCE(h.n_shared, 0) AS n_shared,
           | COALESCE(h.n_shared, 0) * 2 >= z.n_shingles AS leaked
           |FROM sz z LEFT JOIN hits h ON h.doc_id = z.doc_id""".stripMargin,
      "t_contam" ->
        s"""WITH toks AS (SELECT doc_id, string_split($nrmSql, ' ') AS w FROM documents),
           |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           |       FROM toks, UNNEST(range(1, len(w)-1)) AS t(i) WHERE len(w) >= 3),
           |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < $CONTAM_BENCH_BOUND),
           |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM sh
           |       WHERE doc_id >= $CONTAM_BENCH_BOUND GROUP BY 1),
           |hits AS (SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
           |         FROM sh s JOIN bench b USING (shingle)
           |         WHERE s.doc_id >= $CONTAM_BENCH_BOUND GROUP BY 1)
           |SELECT z.doc_id, z.n_shingles, COALESCE(h.n_hits, 0) AS n_hits,
           | CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(z.n_shingles AS DOUBLE) AS contamination,
           | CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(z.n_shingles AS DOUBLE) >= $CONTAM_THRESHOLD AS contaminated
           |FROM sz z LEFT JOIN hits h ON h.doc_id = z.doc_id""".stripMargin,
      "t_dupgrams" ->
        s"""WITH toks AS (SELECT doc_id, string_split($nrmSql, ' ') AS w FROM documents),
           |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           |       FROM toks, UNNEST(range(1, len(w)-1)) AS t(i) WHERE len(w) >= 3),
           |df AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY 1)
           |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
           | CAST(SUM(CASE WHEN f.df >= $DUPGRAM_DF THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
           | CAST(SUM(CASE WHEN f.df >= $DUPGRAM_DF THEN 1 ELSE 0 END) AS DOUBLE)
           |   / CAST(COUNT(*) AS DOUBLE) AS common_share,
           | SUM(CASE WHEN f.df >= $DUPGRAM_DF THEN 1 ELSE 0 END) * 2 >= COUNT(*) AS boilerplate_heavy
           |FROM sh s JOIN df f USING (shingle)
           |GROUP BY 1""".stripMargin,
      "t_bloom_contam" ->
        s"""WITH toks AS (SELECT doc_id, string_split($nrmSql, ' ') AS w FROM documents),
           |sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           |       FROM toks, UNNEST(range(1, len(w)-1)) AS t(i) WHERE len(w) >= 3),
           |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < $CONTAM_BENCH_BOUND),
           |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM sh
           |       WHERE doc_id >= $CONTAM_BENCH_BOUND GROUP BY 1),
           |hits AS (SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
           |         FROM sh s JOIN bench b USING (shingle)
           |         WHERE s.doc_id >= $CONTAM_BENCH_BOUND GROUP BY 1)
           |SELECT z.doc_id, z.n_shingles, COALESCE(h.n_hits, 0) AS n_hits,
           | TRUE AS no_false_neg, TRUE AS flag_superset
           |FROM sz z LEFT JOIN hits h ON h.doc_id = z.doc_id""".stripMargin,
      "t_bigram_lm" ->
        s"""WITH base AS (SELECT doc_id, string_split($nrmSql, ' ') AS w FROM documents),
           |bgx AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
           |        FROM base, UNNEST(range(1, len(w))) t(i)
           |        WHERE len(w) >= 2),
           |freq AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS f FROM bgx GROUP BY 1)
           |SELECT x.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           | CAST(SUM(f.f) AS BIGINT) AS sum_freq,
           | CAST(SUM(f.f) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_bigram_freq
           |FROM bgx x JOIN freq f ON f.bg = x.bg
           |GROUP BY x.doc_id""".stripMargin,
      "t_tfidf" ->
        s"""WITH toks AS (
           | SELECT doc_id, UNNEST(string_split($nrmSql, ' ')) AS term FROM documents),
           |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
           |dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
           |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
           |scored AS (
           | SELECT t.doc_id, t.term,
           |  CAST(t.tf * nd.n_docs AS DOUBLE) / CAST(f.df AS DOUBLE) AS score
           | FROM tf t JOIN dfreq f USING (term), nd),
           |ranked AS (
           | SELECT doc_id, term, score,
           |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS BIGINT) AS rank
           | FROM scored)
           |SELECT doc_id, rank, term, score FROM ranked WHERE rank <= 3""".stripMargin,
      "t_chunks" ->
        s"""WITH base AS (
           | SELECT doc_id, string_split($nrmSql, ' ') AS w,
           |  CAST(len(string_split($nrmSql, ' ')) AS BIGINT) AS n_toks
           | FROM documents)
           |SELECT doc_id, CAST(i AS BIGINT) AS start,
           | CAST(least($CHUNK_LEN, n_toks - i + 1) AS BIGINT) AS n_chunk_toks,
           | md5(array_to_string(w[i:i+${CHUNK_LEN - 1}], ' ')) AS chunk_hash
           |FROM base, UNNEST(range(1, n_toks + 1, $CHUNK_STRIDE)) t(i)
           |WHERE n_toks >= 1""".stripMargin,
      "t_pack" ->
        s"""WITH base AS (
           | SELECT doc_id, doc_id % $PACK_SHARDS AS shard,
           |  CAST(len(string_split($nrmSql, ' ')) AS BIGINT) AS n_toks
           | FROM documents),
           |cum AS (
           | SELECT *, SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id ASC
           |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_toks AS cum_before
           | FROM base)
           |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_toks,
           | CAST(cum_before // $PACK_BUDGET AS BIGINT) AS bin_id,
           | CAST(cum_before % $PACK_BUDGET AS BIGINT) AS start_offset
           |FROM cum""".stripMargin,
      "t_repetition" ->
        s"""WITH base AS (SELECT doc_id, $nrmSql AS nrm FROM documents),
           |toks AS (SELECT doc_id, UNNEST(string_split(nrm, ' ')) AS tok FROM base),
           |wc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
           |ws AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_toks,
           |        CAST(COUNT(*) AS BIGINT) AS n_distinct, MAX(c) AS top_word_c
           |       FROM wc GROUP BY 1),
           |bgx AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
           |        FROM (SELECT doc_id, string_split(nrm, ' ') AS w FROM base),
           |         UNNEST(range(1, len(w))) t(i)
           |        WHERE len(w) >= 2),
           |bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bgx GROUP BY 1, 2),
           |bs AS (SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram_c FROM bc GROUP BY 1),
           |r AS (
           | SELECT ws.doc_id, ws.n_toks,
           |  CAST(n_distinct AS DOUBLE) / CAST(n_toks AS DOUBLE) AS distinct_ratio,
           |  CAST(top_word_c AS DOUBLE) / CAST(n_toks AS DOUBLE) AS top_word_frac,
           |  COALESCE(CAST(top_bigram_c AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 0.0) AS top_bigram_frac
           | FROM ws LEFT JOIN bs ON bs.doc_id = ws.doc_id)
           |SELECT doc_id, n_toks, distinct_ratio, top_word_frac, top_bigram_frac,
           | (top_word_frac > $REP_TOP_WORD OR top_bigram_frac > $REP_TOP_BIGRAM
           |  OR distinct_ratio < $REP_MIN_DISTINCT) AS repetitive
           |FROM r""".stripMargin,
      "t_passages" ->
        s"""WITH base AS (
           | SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n_words,
           |  CAST(len(ws) // $PASSAGE_LEN AS BIGINT) AS n_segs
           | FROM (SELECT doc_id, string_split($nrmSql, ' ') AS ws FROM documents)),
           |segs AS (
           | SELECT doc_id, CAST(i AS BIGINT) AS idx,
           |  array_to_string(ws[CAST(i * $PASSAGE_LEN + 1 AS BIGINT):CAST((i + 1) * $PASSAGE_LEN AS BIGINT)], ' ') AS seg
           | FROM base, UNNEST(range(0, n_segs)) t(i)),
           |boiler AS (
           | SELECT seg FROM (
           |  SELECT seg, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY seg)
           | WHERE df >= $PASSAGE_DF),
           |kept AS (
           | SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
           |  string_agg(s.seg, ' ' ORDER BY s.idx ASC) AS kept_segs
           | FROM segs s ANTI JOIN boiler b ON b.seg = s.seg
           | GROUP BY s.doc_id)
           |SELECT b.doc_id, b.n_words, b.n_segs,
           | b.n_segs - COALESCE(k.n_kept, 0) AS n_boiler,
           | md5(concat_ws(' ', NULLIF(k.kept_segs, ''),
           |   NULLIF(array_to_string(b.ws[CAST(b.n_segs * $PASSAGE_LEN + 1 AS BIGINT):CAST(b.n_words AS BIGINT)], ' '), ''))) AS kept_hash
           |FROM base b LEFT JOIN kept k ON k.doc_id = b.doc_id""".stripMargin,
      "t_fingerprint" ->
        s"""WITH base AS (
           | SELECT doc_id, nrm FROM (SELECT doc_id, $nrmSql AS nrm FROM documents)
           | WHERE length(nrm) >= ${FP_K + FP_W - 1}),
           |grams AS (
           | SELECT doc_id,
           |  list_transform(range(1, length(nrm) - ${FP_K - 2}), i -> md5(substr(nrm, CAST(i AS INT), $FP_K))) AS h
           | FROM base),
           |wins AS (
           | SELECT doc_id,
           |  UNNEST(list_transform(range(1, len(h) - ${FP_W - 2}), p -> list_min(h[p:p+${FP_W - 1}]))) AS fp
           | FROM grams)
           |SELECT DISTINCT doc_id, fp FROM wins""".stripMargin,
    )
  }
}
