"""Text-analysis operators for training-data pipelines (SURVEY.md
Phase 6): token counting, quality scoring, language-ID heuristic,
document fingerprinting. All pure JVM-side expressions (regex +
string built-ins) — zero Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_tutorial_spark.operators.dedup import md5_long

#: tiny English-stopword marker set, shared verbatim with the oracle SQL
STOPWORDS = ("the", "a", "is", "of", "and")

#: BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space
BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens, BPE-ish tokens, char count, avg word length."""
    words = F.split(F.col(text_col), " ")
    return docs.withColumns(
        {
            "ws_tokens": F.size(words),
            "bpe_tokens": F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_RE), 0)),
            "n_chars_m": F.length(text_col),
            "avg_word_len": F.round(
                (F.length(text_col) - F.size(words) + 1) / F.size(words), 4
            ),
        }
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features: stopword ratio, unique-word ratio,
    plus a composite keep/drop label (the C4/Gopher-style rule shape)."""
    words = F.split(F.col(text_col), " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_cnt = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    uniq_ratio = F.size(F.array_distinct(words)) / F.size(words)
    stop_ratio = stop_cnt / F.size(words)
    return docs.withColumns(
        {
            "stop_ratio": F.round(stop_ratio, 4),
            "uniq_ratio": F.round(uniq_ratio, 4),
            "quality_keep": (F.size(words) >= 20) & (uniq_ratio >= 0.2),
        }
    )


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram/stopword language-ID heuristic.

    The synthetic corpus draws from one vocabulary, so this predicts via
    English-marker density only — the operator shape (token-ratio
    scoring -> argmax label) is what matters; swap the marker tables for
    real per-language n-gram stats in production."""
    words = F.split(F.col(text_col), " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    ratio = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w))) / F.size(words)
    return docs.withColumns(
        {
            "en_score": F.round(ratio, 4),
            "lang_pred": F.when(ratio >= 0.05, "en").otherwise("unknown"),
        }
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit content fingerprint over normalized text (lowercase,
    collapsed whitespace) — the dedup/near-dup join key primitive."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), " +", " ")
    return docs.withColumn("fingerprint", md5_long(normalized))


def ngram_decontaminate(
    docs: DataFrame,
    bench_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_overlap: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing >=
    `min_overlap` distinct n-gram shingles with a held-out benchmark
    set (the eval-leakage check every training-data pipeline runs
    before a corpus ships).

    Scale shape: the benchmark side is small BY CONTRACT (an eval set),
    so its hashed shingle set broadcasts — the corpus-side shingle
    table is filtered map-side with NO corpus shuffle; the only shuffle
    is the per-doc overlap count on `id_col`. Shingles are distinct per
    (doc, shingle) on both sides, so a plain count(*) after the join
    equals the distinct-overlap count (and matches the oracle row-for-
    row even under 60-bit hash collisions, because both engines count
    the same joined rows).

    Returns (id_col, n_overlap) for contaminated docs only."""
    from flink_tutorial_spark.operators.dedup import md5_long, shingle_table

    sh = shingle_table(docs, id_col, text_col, n).select(
        F.col(id_col), md5_long(F.col("shingle")).alias("h")
    )
    bench = (
        shingle_table(bench_docs, id_col, text_col, n)
        .select(md5_long(F.col("shingle")).alias("h"))
        .distinct()
    )
    return (
        sh.join(F.broadcast(bench), "h")
        .groupBy(id_col)
        .agg(F.count("*").cast("int").alias("n_overlap"))
        .where(F.col("n_overlap") >= min_overlap)
    )


def repetition_ratio(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Within-document repetition: fraction of duplicated n-gram
    shingles (the Gopher/C4-style repeated-n-gram quality rule; heavy
    repetition marks boilerplate/spam).

    Entirely map-side — the shingle list, its distinct count, and the
    ratio are array expressions per row, so the operator adds ZERO
    shuffle at any corpus size (the relational statement of the same
    quantity needs an explode + two-level aggregation).

    rep_ratio = 1 - distinct_shingles / total_shingles (0 for docs
    shorter than n words); rep_keep <= 0.2 is the composite rule."""
    from flink_tutorial_spark.operators.dedup import shingle_array_expr

    with_words = docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_words")
    )
    shingle_arr = shingle_array_expr(F.col("_words"), n)
    total = F.size(shingle_arr)
    nd = F.size(F.array_distinct(shingle_arr))
    ratio = F.when(total > 0, F.lit(1.0) - nd.cast("double") / total).otherwise(
        F.lit(0.0)
    )
    return with_words.select(
        F.col(id_col),
        F.round(ratio, 4).alias("rep_ratio"),
        (ratio <= 0.2).alias("rep_keep"),
    )


def funnel_stats(docs: DataFrame, group_col: str = "source") -> DataFrame:
    """Per-group funnel accounting for the cleaning pipeline: documents
    surviving each stage (quality rule -> language filter -> exact
    dedup) plus the token volume the final keep set retains.

    The dedup-canonical flag is decided AMONG THE KEPT SET — if the
    minimum-id copy of a text failed quality/language, the smallest
    surviving copy is canonical, so counts never leak documents that an
    earlier stage already dropped.

    Scale shape: stage flags are map-side column expressions; canonical
    is one window over md5(text) (the dedup shuffle key itself); the
    groupBy is partial-aggregable. Two shuffles total, no collect."""
    from pyspark.sql import Window

    scored = lang_id(quality_score(token_stats(docs)))
    q = F.col("quality_keep")
    lk = q & (F.col("lang_pred") == "en")
    w = Window.partitionBy(F.md5("text"))
    canon = F.col("doc_id") == F.min(F.when(lk, F.col("doc_id"))).over(w)
    flagged = scored.select(
        "doc_id", group_col, "bpe_tokens", q.alias("quality_keep"),
        lk.alias("lang_keep"), (lk & canon).alias("final_keep"),
    )

    def _cnt(cond):
        return F.count(F.when(cond, 1))

    return flagged.groupBy(group_col).agg(
        F.count("*").alias("n_total"),
        _cnt(F.col("quality_keep")).alias("n_quality"),
        _cnt(F.col("lang_keep")).alias("n_lang"),
        _cnt(F.col("final_keep")).alias("n_dedup"),
        F.coalesce(
            F.sum(F.when(F.col("final_keep"), F.col("bpe_tokens"))), F.lit(0)
        ).cast("bigint").alias("tokens_kept"),
    )


def temperature_rebalance(
    docs: DataFrame,
    domain_col: str = "lang",
    text_col: str = "text",
    salt: str = ":mix:r6",
) -> DataFrame:
    """Temperature-based domain-mix rebalancing at alpha = 0.5: flatten
    a skewed domain distribution toward uniform by downsampling each
    domain to n_i = min(c_i, ceil(sqrt(c_min * c_i))) — the
    count^alpha reweighting pretraining mixes use. sqrt() is IEEE-exact
    on every engine, so the alpha=0.5 case has no pow() ulp hazard and
    the keep rule is bit-reproducible.

    Selection is a deterministic salted-hash threshold (the all-integer
    keep compare h * c_i < n_i * 1e6 is overflow-safe to c_i ~ 1e12;
    the target itself multiplies c_min * c_i as double before sqrt so
    the product cannot overflow int64 under ANSI mode), NOT a
    per-domain rank: the
    filter stays map-side after one tiny broadcast-joined counts
    aggregate, where rank-per-domain would collapse each domain onto a
    single partition at 100 TB. Kept counts are hash-binomial around
    n_i; duplicate texts get identical verdicts, so dedup-then-rebalance
    equals rebalance-then-dedup."""
    counts = docs.groupBy(domain_col).agg(F.count("*").alias("c_lang"))
    cmin = counts.agg(F.min("c_lang").alias("c_min"))
    targets = counts.crossJoin(F.broadcast(cmin)).select(
        domain_col, "c_lang",
        F.least(
            F.col("c_lang"),
            F.ceil(F.sqrt(F.col("c_min").cast("double") * F.col("c_lang"))),
        ).alias("n_target"),
    )
    h = F.pmod(
        md5_long(F.concat(F.col(text_col), F.lit(salt))), F.lit(1000000)
    )
    return (
        docs.join(F.broadcast(targets), domain_col)
        .where(h * F.col("c_lang") < F.col("n_target") * F.lit(1000000))
        .select("doc_id", domain_col, "c_lang", "n_target")
    )


def boilerplate_ratio(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_df: int = 4,
    keep_below: float = 0.3,
) -> DataFrame:
    """Cross-document boilerplate signal: the fraction of a document's
    distinct n-gram shingles that are corpus-common (document frequency
    >= min_df) — the CCNet/C4-style rule that catches shared headers,
    footers, and templates which within-document repetition_ratio
    cannot see. Docs shorter than n words score 0 and keep.

    Scale shape: shingles are hashed to 60-bit ints map-side; DF rides
    a count() window over partitionBy(sh) on the SAME rows (r20
    pass 2: the former groupBy(sh) + join-back computed the whole
    scan+shingle+distinct subtree twice — one Generate branch per join
    side; the window states the identical per-shingle count with one
    pass and one exchange), then one groupBy(doc). Two shuffle keys
    total — the same shape every DF-based corpus statistic needs,
    never all-pairs."""
    from pyspark.sql import Window

    from flink_tutorial_spark.operators.dedup import shingle_table

    sh = shingle_table(docs, id_col, text_col, n).select(
        F.col(id_col), md5_long(F.col("shingle")).alias("sh")
    )
    per_doc = (
        sh.withColumn("df", F.count("*").over(Window.partitionBy("sh")))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("total"),
            F.count(F.when(F.col("df") >= min_df, 1)).alias("common"),
        )
    )
    ratio = F.coalesce(F.col("common") / F.col("total"), F.lit(0.0))
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.round(ratio, 4).alias("boiler_ratio"),
            (ratio <= keep_below).alias("boiler_keep"),
        )
    )


def sequence_packing(
    docs: DataFrame,
    seq_tokens: int = 512,
    writers: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = ":pack:r7",
) -> DataFrame:
    """GPT-style concatenate-and-chunk sequence packing: shuffle docs
    deterministically (salted content hash), concatenate each writer
    partition's token stream, and cut it into fixed `seq_tokens`
    training sequences. A doc belongs to the sequence where its span
    STARTS (straddling docs split at the boundary — the standard
    causal-LM packing rule); `seq_offset` is its start position inside
    that sequence. Returns (doc_id, writer, n_tokens, seq_id,
    seq_offset).

    Scale shape: the cumulative token sum is a window per WRITER
    partition (salted-hash assignment, `writers` ~ cluster write
    width), never a global sort — the same no-single-partition rule as
    datapipe_training_shards. One shuffle on writer; everything else is
    map-side column math. Duplicate texts hash identically, so the
    doc order (h, id) is still total and rerun-stable."""
    from pyspark.sql import Window
    from flink_tutorial_spark.operators.dedup import md5_long

    h = md5_long(F.concat(F.col(text_col), F.lit(salt)))
    d = docs.select(
        F.col(id_col),
        h.alias("h"),
        F.size(F.split(F.col(text_col), " ")).alias("n_tokens"),
    ).withColumn("writer", F.pmod(F.col("h"), F.lit(writers)).cast("int"))
    w = (
        Window.partitionBy("writer")
        .orderBy("h", id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return d.select(
        id_col,
        "writer",
        "n_tokens",
        F.floor(start / seq_tokens).cast("long").alias("seq_id"),
        F.pmod(start, F.lit(seq_tokens)).cast("long").alias("seq_offset"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed tf-idf —
    the per-doc keyword signal corpus explorers and topic-drift
    monitors run over a training corpus.

    tf = term count in doc; idf = ln((N + 1) / (df + 1)) + 1 (the
    sklearn-style smoothed variant, safe for terms present in every
    doc); score = tf * idf, rounded to 6 places before ranking so the
    rank compare is engine-stable; ties break on term asc.

    Scale shape: one explode -> two partial-aggregable groupBys
    ((doc, term) counts, then term df) + a broadcast of the tiny df
    table back onto (doc, term) rows, then one per-doc top-k window.
    The window partitions by doc — millions of small partitions, the
    scalable direction — never a global sort. N (doc count) rides in
    as a 1-row broadcast crossJoin, not a driver collect. (A
    window-DF form — count over partitionBy(term) — was A/B'd in r20
    pass 2 and REJECTED: med 0.709 -> 0.747 s; unlike boilerplate's
    shingle rows, the full tf table re-shuffled by term costs more
    than the duplicate pre-aggregated subtree it removes.)"""
    from pyspark.sql import Window

    words = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    ).where(F.col("term") != "")
    tf = words.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df_tab = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_tab), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "rank")
    )


def word_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document word-distribution Shannon entropy (nats) — the
    cheap perplexity proxy: low entropy marks repetitive/templated text
    (spam, keyword stuffing, boilerplate) that token-count and
    stopword-ratio rules miss; pairs with repetition_ratio as a
    quality gate.

    H = -sum_w (c_w/n) ln(c_w/n), via explode -> (doc, word) counts ->
    per-doc aggregate. Both shuffles are partial-aggregable and
    key-bounded ((doc, word) then doc). A zero-shuffle array
    higher-order variant (filter+size per distinct word) was measured
    and REJECTED (r7): its O(distinct * n)-per-row expression tree ran
    ~5x slower than this shape at sf0.1 (2.2s vs 0.46s) — the shuffle
    buys whole-stage-codegen aggregation and scan-independent
    parallelism for less than the nested array scans cost. Rounded to
    6 places for engine parity."""
    words = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("word")
    )
    cnt = words.groupBy(id_col, "word").agg(F.count("*").alias("c"))
    n = F.sum("c")
    # ln(n) - sum(c*ln c)/n  ==  -sum((c/n) ln(c/n)), one pass
    return cnt.groupBy(id_col).agg(
        F.round(
            F.log(n) - F.sum(F.col("c") * F.log("c")) / n, 6
        ).alias("word_entropy"),
        n.cast("int").alias("n_words"),
    )


def bigram_lm_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_counts: bool = True,
) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    MLE bigram model — the classic cheap LM-based quality signal
    (KenLM-style scoring with the corpus as its own training set):
    docs full of rare transitions (garbled text, wrong-language
    fragments, shuffled words) score low; templated text scores high.
    Complements word_entropy (within-doc) with a CROSS-doc signal.

    P(w2|w1) = c(w1,w2) / c(w1·), both counted over bigram positions
    corpus-wide; score = sum over the doc's bigram instances of
    ln P, divided by the instance count, rounded to 6 (engine-stable
    like word_entropy). Instances aggregate per (doc, w1, w2) FIRST so
    the float sum has one term per distinct transition — the oracle
    mirrors that exact shape, keeping summation structure identical.

    Scale shape: bigrams come from a zip of two array slices (no join,
    no window — one projection per doc), then two partial-aggregable
    groupBys build the count tables. ``broadcast_counts=True`` (default)
    FORCES the c12/c1 joins to broadcast — F.broadcast is an
    unconditional hint, honored regardless of size, right for bigram
    vocabularies up to ~1e7 rows. Beyond that (open-vocabulary web
    corpora) a forced broadcast would OOM: pass ``broadcast_counts=
    False`` to get shuffle joins on (w1, w2) — still key-bounded
    (ADVICE r7: the fallback is a caller decision, not automatic)."""
    ws = F.split(F.col(text_col), " ")
    pairs = (
        docs.select(
            F.col(id_col),
            F.slice(ws, 1, F.size(ws) - 1).alias("wa"),
            F.slice(ws, 2, F.size(ws) - 1).alias("wb"),
        )
        .select(F.col(id_col), F.explode(F.arrays_zip("wa", "wb")).alias("bg"))
        .select(F.col(id_col), F.col("bg.wa").alias("w1"), F.col("bg.wb").alias("w2"))
    )
    tf = pairs.groupBy(id_col, "w1", "w2").agg(F.count("*").alias("tf"))
    c12 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = pairs.groupBy("w1").agg(F.count("*").alias("c1"))
    hint = F.broadcast if broadcast_counts else (lambda df: df)
    return (
        tf.join(hint(c12), ["w1", "w2"])
        .join(hint(c1), "w1")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(F.col("tf") * F.log(F.col("c12") / F.col("c1")))
                / F.sum("tf"),
                6,
            ).alias("avg_logprob"),
        )
    )


def chunk_dedup(
    docs: DataFrame,
    chunk_words: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sub-document (paragraph-granularity) dedup: split each doc into
    consecutive ``chunk_words``-word chunks and keep only each chunk's
    global FIRST occurrence (lexicographic (doc_id, chunk_idx) min) —
    the corpus-wide "remove duplicated paragraphs" pass that exact
    whole-doc dedup misses and boilerplate_ratio only scores. Emits
    per-doc retention stats; a doc whose text survives mostly intact
    retains ~1.0, a doc assembled from already-seen chunks drops
    toward 0.

    Scale shape: one explode (~n_words/chunk_words rows per doc), one
    groupBy(chunk-hash) min-agg for ownership — count and first-owner
    ride the same shuffle via min(struct) — then a broadcast-free
    join-back on the hash and a per-doc re-agg. Both shuffles are
    partial-aggregable; chunk ownership is exactly the exact-dedup
    fingerprint pattern one level down, so it scales identically."""
    ws = F.split(F.col(text_col), " ")
    chunks = (
        docs.select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size(ws) / F.lit(chunk_words)).cast("int") - 1,
                    ),
                    lambda i: F.struct(
                        i.alias("chunk_idx"),
                        F.array_join(
                            F.slice(ws, i * chunk_words + 1, chunk_words), " "
                        ).alias("chunk"),
                    ),
                )
            ).alias("c"),
        )
        .select(F.col(id_col), F.col("c.chunk_idx"), md5_long(F.col("c.chunk")).alias("ch"))
    )
    owners = chunks.groupBy("ch").agg(
        F.min(F.struct(F.col(id_col), F.col("chunk_idx"))).alias("own"),
    )
    return (
        chunks.join(owners, "ch")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(
                (
                    (F.col(f"own.{id_col}") == F.col(id_col))
                    & (F.col("own.chunk_idx") == F.col("chunk_idx"))
                ).cast("long")
            ).alias("n_kept"),
        )
        .select(
            id_col,
            "n_chunks",
            "n_kept",
            F.round(F.col("n_kept") / F.col("n_chunks"), 4).alias("retained_ratio"),
        )
    )


def bpe_merge_candidates(
    docs: DataFrame, k: int = 20, text_col: str = "text"
) -> DataFrame:
    """First BPE-training iteration over the corpus: count adjacent
    character pairs inside words (weighted by corpus word frequency)
    and rank the top-k merge candidates — the step a tokenizer-training
    pipeline runs before anything else, and the aggregation shape every
    subsequent merge round repeats.

    Scale shape: word-frequency table first (one partial-aggregable
    groupBy; vocabulary-bounded, NOT corpus-bounded), then pairs
    explode off the DISTINCT vocabulary — corpus size only enters
    through the integer weights, so a 100 TB corpus pays the same
    pair-explode as a 100 GB one. The final rank sorts the pair table
    (alphabet^2-bounded, tiny) — a global sort of a bounded relation,
    not of data. Ties break on pair asc; counts are exact integers."""
    from pyspark.sql import Window

    words = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("wf"))
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "wf",
    )
    agg = pairs.groupBy("pair").agg(F.sum("wf").cast("long").alias("freq"))
    w = Window.orderBy(F.desc("freq"), F.asc("pair"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("pair", "freq", "rank")
    )


def mixed_lang_detect(
    docs: DataFrame,
    chunk_words: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Within-document language-mixing detector: run the lang_id
    marker heuristic per consecutive ``chunk_words``-word chunk instead
    of per document, and flag docs whose chunks disagree — the cleaning
    signal whole-doc language-ID misses (bilingual pages, foreign
    boilerplate wrapped around native text, code-switched forums).
    mix_ratio is the minority-chunk share (0 = monolingual, 0.5 =
    half/half).

    Scale shape: one explode (n_words/chunk_words rows per doc) with
    the per-chunk ratio computed INSIDE the explode as pure array
    expressions (no second pass over words), then one partial-aggregable
    per-doc groupBy. Same chunk frame as chunk_dedup, so a pipeline
    computing both shares the shuffle-free chunking."""
    ws = F.split(F.col(text_col), " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    chunks = docs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size(ws) / F.lit(chunk_words)).cast("int") - 1,
                ),
                lambda i: F.slice(ws, i * chunk_words + 1, chunk_words),
            )
        ).alias("cw"),
    ).select(
        F.col(id_col),
        (
            F.size(F.filter(F.col("cw"), lambda w: F.array_contains(stop_arr, w)))
            / F.size("cw")
            >= 0.05
        ).alias("chunk_en"),
    )
    agg = chunks.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.col("chunk_en").cast("long")).alias("n_en"),
    )
    return agg.select(
        id_col,
        "n_chunks",
        "n_en",
        F.round(
            F.least(F.col("n_en"), F.col("n_chunks") - F.col("n_en"))
            / F.col("n_chunks"),
            4,
        ).alias("mix_ratio"),
        (
            (F.col("n_en") > 0) & (F.col("n_en") < F.col("n_chunks"))
        ).alias("is_mixed"),
    )


def substring_dedup(
    docs: DataFrame,
    gram_words: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    hot_gram_cap: int | None = 1 << 16,
) -> DataFrame:
    """Exact substring-level dedup (the Lee et al. "Deduplicating
    Training Data Makes Language Models Better" operator): slide a
    ``gram_words``-token window over every document at EVERY alignment,
    keep each gram's global first occurrence ((doc_id, pos) min), and
    report per doc how much of its text sits inside duplicated spans —
    the signal real pipelines use to cut 50-token repeated substrings
    that chunk_dedup's fixed-alignment chunks (text.py chunk_dedup)
    structurally miss. removed_tokens is the exact length of the UNION
    of the duplicated gram intervals (overlapping dup grams are not
    double-counted), computed with one lead() per doc — never a
    suffix-array global sort.

    Scale shape: one explode with the gram hash computed map-side
    inside the array transform (rows ~ tokens, no words-array
    duplication after the explode), one groupBy(hash) min-agg for
    ownership, a join-back on the hash, and two per-doc aggs that share
    the doc_id shuffle. Hash work is O(tokens * gram_words) characters
    — the price of an exact cross-engine anchor (md5); a production
    deployment swaps in a rolling polynomial hash for O(tokens) with
    the identical plan shape. Every shuffle is partial-aggregable or
    key-bounded; nothing is ever globally sorted.

    ``hot_gram_cap`` is the hot-gram skew guard (the minhash hot-band
    guard ported to the ownership window): a boilerplate gram repeated
    millions of times would land every occurrence in ONE window-sort
    task. Routing is SEMANTICS-FREE — hot and cold branches both
    compute the identical min-(doc_id,pos) owner, so no oracle change
    and no planted-data delta: a cheap detection pass (xxhash64, no
    md5; partial-agg counts, output bounded by tokens/cap) collects
    over-cap gram hashes; those grams take a partial-aggregated
    groupBy-min (map-side combine collapses the repeats, so the reducer
    sees <= #map-partitions rows per hot gram) + broadcast join-back
    (owner table is hot-set-sized — zero extra shuffle), while cold
    grams keep the measured single-shuffle window. Benign corpora
    (empty hot set) keep the exact r8 plan and pay only the detection
    pass; None disables the guard.

    Caller contract: with the guard armed (the default), DataFrame
    CONSTRUCTION runs an eager Spark job (the detection pass collects
    the hot set) — pass hot_gram_cap=None if you need a fully lazy
    plan (dry runs, plan inspection)."""
    from pyspark.sql import Window

    L = gram_words
    ws = F.split(F.col(text_col), " ")
    base = docs.select(F.col(id_col), ws.alias("ws"), F.size(ws).alias("n_tokens"))
    eligible = base.where(F.col("n_tokens") >= L)

    def _gram_str(i):
        return F.array_join(F.slice(F.col("ws"), i + 1, L), " ")

    # Detection samples 1-in-8 POSITIONS by a deterministic hash of
    # (doc_id, pos) BEFORE building/hashing the gram string, so both the
    # explode volume and the hash work drop 8x (measured at sf10: the
    # full count agg over ~28M mostly-unique gram hashes cost MORE than
    # the main query, 91s vs 78s; sampled detection ~12s). Every
    # occurrence of a gram is an independent 1/8 coin decided by data,
    # so an over-cap gram's sampled count concentrates at cap/8 and the
    # cap/16 threshold catches it (Chernoff margin e^-thousands for the
    # 65536 default); a miss only costs falling back to today's window
    # behavior — routing is semantics-free either way.
    hot: list[int] = []
    if hot_gram_cap is not None:
        sampled = F.filter(
            F.sequence(F.lit(0), F.col("n_tokens") - L),
            lambda i: F.pmod(F.xxhash64(F.col(id_col), i), F.lit(8)) == 0,
        )
        hot = [
            r["dh"]
            for r in (
                eligible.select(
                    F.explode(
                        F.transform(sampled, lambda i: F.xxhash64(_gram_str(i)))
                    ).alias("dh")
                )
                .groupBy("dh")
                # clamp: for caps < 16 an unclamped cap//16 threshold
                # would be 0, classifying EVERY sampled gram as hot —
                # the guard would invert into a driver/broadcast blowup
                .agg(F.count("*").alias("_c"))
                .where(F.col("_c") > max(1, hot_gram_cap // 16))
                .collect()
            )
        ]
    # gram string built ONCE per position via a staged transform (HOFs
    # defeat CSE: inlining _gram_str into both hash lambdas would run
    # the array_join twice per position on the hot-guarded path)
    pos_grams = F.transform(
        F.sequence(F.lit(0), F.col("n_tokens") - L),
        lambda i: F.struct(i.cast("long").alias("pos"), _gram_str(i).alias("s")),
    )
    grams = (
        eligible.select(
            F.col(id_col),
            F.explode(
                F.transform(
                    pos_grams,
                    lambda g: F.struct(
                        g["pos"].alias("pos"),
                        md5_long(g["s"]).alias("h"),
                        *([F.xxhash64(g["s"]).alias("dh")] if hot else []),
                    ),
                )
            ).alias("g"),
        )
        .select(F.col(id_col), F.col("g.*"))
    )
    # Ownership via min-over-Window.partitionBy(hash): ONE shuffle of the
    # gram table instead of the groupBy+join-back form's two (chunk_dedup
    # keeps agg+join because its chunk table is 20x smaller). Measured at
    # sf1 (same session, best-of-2): agg+join 18.9s vs window 8.2s — the
    # second full shuffle of ~tokens rows dominates; the window's
    # per-partition sort is cheaper than re-shuffling.
    wh = Window.partitionBy("h")

    def _mark(df):
        return df.select(
            F.col(id_col),
            "pos",
            (
                (F.col(f"own.{id_col}") != F.col(id_col))
                | (F.col("own.pos") != F.col("pos"))
            ).alias("is_dup"),
        )

    if hot:
        cold = grams.where(~F.col("dh").isin(hot))
        hotg = grams.where(F.col("dh").isin(hot))
        owners = hotg.groupBy("h").agg(
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("own")
        )
        j = _mark(
            cold.withColumn(
                "own", F.min(F.struct(F.col(id_col), F.col("pos"))).over(wh)
            )
        ).unionByName(_mark(hotg.join(F.broadcast(owners), "h")))
    else:
        j = _mark(
            grams.withColumn(
                "own", F.min(F.struct(F.col(id_col), F.col("pos"))).over(wh)
            )
        )
    stats = j.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_grams"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dup_grams"),
    )
    wd = Window.partitionBy(id_col).orderBy("pos")
    cov = (
        j.where("is_dup")
        .withColumn("nxt", F.lead("pos").over(wd))
        .groupBy(id_col)
        .agg(
            F.sum(
                F.least(F.lit(L).cast("long"), F.coalesce(F.col("nxt") - F.col("pos"), F.lit(L).cast("long")))
            ).alias("removed_tokens")
        )
    )
    return (
        base.select(id_col, "n_tokens")
        .join(stats, id_col, "left")
        .join(cov, id_col, "left")
        .select(
            id_col,
            F.col("n_tokens").cast("long"),
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.coalesce("removed_tokens", F.lit(0)).cast("long").alias("removed_tokens"),
            F.round(
                F.coalesce("removed_tokens", F.lit(0)) / F.col("n_tokens"), 4
            ).alias("removed_ratio"),
        )
    )


def chunk_length_mixing(
    docs: DataFrame,
    chunk_words: int = 8,
    avg_len_threshold: float = 4.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Second marker set for within-doc mixing (VERDICT r7 #8):
    classify each consecutive ``chunk_words``-word chunk by MEAN WORD
    LENGTH instead of stopword density — the token-shape axis that
    separates prose from code/identifier/table fragments mixed into the
    same document (code tokens run long and stopword-free). Same chunk
    frame as mixed_lang_detect/chunk_dedup, so a pipeline computing all
    three shares the shuffle-free chunking; mix_ratio is the
    minority-class share, is_mixed flags docs whose chunks disagree.

    The threshold compare is exact cross-engine: sum-of-int-lengths /
    chunk size is one correctly-rounded IEEE divide on both sides."""
    ws = F.split(F.col(text_col), " ")
    chunks = docs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size(ws) / F.lit(chunk_words)).cast("int") - 1,
                ),
                lambda i: F.slice(ws, i * chunk_words + 1, chunk_words),
            )
        ).alias("cw"),
    ).select(
        F.col(id_col),
        (
            F.aggregate(
                F.col("cw"), F.lit(0), lambda acc, w: acc + F.length(w)
            ).cast("double")
            / F.size("cw")
            >= avg_len_threshold
        ).alias("chunk_long"),
    )
    agg = chunks.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.col("chunk_long").cast("long")).alias("n_long"),
    )
    return agg.select(
        id_col,
        "n_chunks",
        "n_long",
        F.round(
            F.least(F.col("n_long"), F.col("n_chunks") - F.col("n_long"))
            / F.col("n_chunks"),
            4,
        ).alias("mix_ratio"),
        (
            (F.col("n_long") > 0) & (F.col("n_long") < F.col("n_chunks"))
        ).alias("is_mixed"),
    )


#: PII patterns, deliberately simple and auditable: emails, then
#: phone-like SEPARATED digit groups (3+ groups split by -/space/dot —
#: the separators are what distinguish a phone from a bare id number),
#: then bare digit runs >= 6 (ids, SSN-ish). Order matters: email first
#: so its digits don't double-count; phone before bare runs so a
#: formatted number isn't shredded group-by-group.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?[0-9]{1,4}([ .\-][0-9]{2,4}){2,}"
PII_DIGITS_RE = r"[0-9]{6,}"


def pii_scrub(
    docs: DataFrame, text_col: str = "text", out_col: str = "text_scrubbed"
) -> DataFrame:
    """PII detection + redaction — the scrub stage every training-data
    pipeline runs before tokenization (emails, phone-like numbers, long
    digit runs -> typed placeholder tokens), with per-doc match counts
    so the funnel can report redaction rates. Pure JVM regexp
    expressions (regexp_count + chained regexp_replace) — zero Python,
    zero shuffle, composes map-side with quality/lang/dedup stages.

    The synthetic corpus contains no PII (the planted-data unit test
    exercises the patterns; see tests/test_datapipe.py), so this ships
    as an operator rather than a degenerate all-zeros catalog query.
    Swap the pattern set for a production library's (scrubadub,
    presidio) once off the sandbox; the plan shape is the contract."""
    t = F.col(text_col)
    n_email = F.regexp_count(t, F.lit(PII_EMAIL_RE))
    after_email = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    n_phone = F.regexp_count(after_email, F.lit(PII_PHONE_RE))
    after_phone = F.regexp_replace(after_email, PII_PHONE_RE, "<PHONE>")
    n_digits = F.regexp_count(after_phone, F.lit(PII_DIGITS_RE))
    scrubbed = F.regexp_replace(after_phone, PII_DIGITS_RE, "<NUM>")
    return docs.withColumns(
        {
            "n_emails": n_email.cast("int"),
            "n_phones": n_phone.cast("int"),
            "n_digit_runs": n_digits.cast("int"),
            "pii_clean": (n_email + n_phone + n_digits) == 0,
            out_col: scrubbed,
        }
    )


#: code-marker characters: digits plus the symbol set that dominates
#: source code but is rare in prose (braces, brackets, operators,
#: path/identifier glue). A literal character class valid in both Java
#: regex (Spark) and RE2 (DuckDB), kept to shared syntax on purpose.
CODE_MARKER_CLASS = r"[0-9{}()\[\];=<>+*&|%$#@\\/_]"


def code_prose_mix_detect(
    docs: DataFrame,
    chunk_words: int = 8,
    code_threshold: float = 0.08,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Within-document code-vs-prose mixing detector (VERDICT r7 #8's
    second marker set): the same chunk frame as mixed_lang_detect, but
    the per-chunk signal is the CODE-MARKER character ratio (digits +
    operator/brace symbols per character). Chunks at or above
    ``code_threshold`` are 'code-ish'; a doc with both code and prose
    chunks is flagged mixed — the cleaning signal that catches READMEs
    with embedded snippets, scraped forums, and notebook exports that
    whole-doc classifiers average away.

    Scale shape: identical to mixed_lang_detect — one explode with the
    ratio computed inside as pure column expressions (length minus
    length-after-regexp_replace; JVM-side, no Python), then one
    partial-aggregable per-doc groupBy. A pipeline computing both
    detectors shares the chunk frame and the shuffle.

    The synthetic corpus contains no marker characters (pure
    lowercase-word text), so like pii_scrub this ships as a
    planted-data-tested operator rather than a degenerate all-false
    catalog query."""
    ws = F.split(F.col(text_col), " ")
    chunks = docs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size(ws) / F.lit(chunk_words)).cast("int") - 1,
                ),
                lambda i: F.concat_ws(
                    " ", F.slice(ws, i * chunk_words + 1, chunk_words)
                ),
            )
        ).alias("chunk"),
    ).select(
        F.col(id_col),
        (
            (
                F.length("chunk")
                - F.length(F.regexp_replace("chunk", CODE_MARKER_CLASS, ""))
            )
            / F.greatest(F.length("chunk"), F.lit(1))
            >= code_threshold
        ).alias("chunk_code"),
    )
    agg = chunks.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.col("chunk_code").cast("long")).alias("n_code"),
    )
    return agg.select(
        id_col,
        "n_chunks",
        "n_code",
        F.round(F.col("n_code") / F.col("n_chunks"), 4).alias("code_ratio"),
        (
            (F.col("n_code") > 0) & (F.col("n_code") < F.col("n_chunks"))
        ).alias("is_mixed"),
    )


def _bpe_merge_expr(toks, x: str, y: str):
    """One BPE merge round as a pure column fold: greedy leftmost
    non-overlapping replacement of adjacent token pair (x, y) by x||y —
    the exact convention BPE training uses, expressed identically in
    DuckDB's list_reduce for the oracle."""
    return F.aggregate(
        toks,
        F.array().cast("array<string>"),
        lambda acc, t: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(x))
            & (t == F.lit(y)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(x + y))),
        ).otherwise(F.concat(acc, F.array(t))),
    )


def bpe_learn_and_encode(
    docs: DataFrame,
    rounds: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BPE tokenizer: learn ``rounds`` merges on the corpus and ENCODE
    every document with them (completes text.bpe_merge_candidates,
    which only ranked round-1 candidates) — per doc the whitespace word
    count, the character token count (round-0 BPE), and the encoded
    token count after the learned merges.

    True BPE is sequential: round r's argmax pair is counted on the
    corpus AFTER round r-1's merges, so this is a driver-controlled
    loop of ``rounds`` tiny actions (argmax collect(1) each), the same
    iterate contract as pagerank. All per-round work runs on the
    DISTINCT VOCABULARY (corpus size enters only through integer word
    frequencies — the bpe_merge_candidates scale argument), and each
    merge is a deterministic array fold (greedy leftmost, ties on
    freq DESC then pair asc), so the whole learn+encode is bit-exact
    against a chained-CTE DuckDB oracle.

    Scale shape: one corpus pass builds (word, wf); every round is a
    vocabulary-bounded pair explode + partial-agg + collect(1); the
    final encode joins the corpus word stream to the
    vocabulary-bounded (word, enc_len) table — broadcast here (the
    synthetic vocab is tiny); an open-vocabulary 100 TB corpus flips
    to a regular shuffle join with the identical semantics."""
    words = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("word")
    )
    venc = bpe_encoded_vocab(docs, rounds=rounds, text_col=text_col)
    return (
        words.join(F.broadcast(venc), "word")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_chars").cast("long").alias("char_tokens"),
            F.sum("enc").cast("long").alias("bpe_tokens"),
        )
        .select(
            id_col,
            "n_words",
            "char_tokens",
            "bpe_tokens",
            F.round(
                1 - F.col("bpe_tokens") / F.col("char_tokens"), 4
            ).alias("merge_saving"),
        )
    )


def bpe_encoded_vocab(
    docs: DataFrame, rounds: int = 3, text_col: str = "text"
) -> DataFrame:
    """Learn ``rounds`` BPE merges and return the encoded VOCABULARY:
    (word, n_chars, enc) — enc is the word's token count after the
    learned merges. The vocabulary-bounded building block both
    text_bpe_encode and the token-budget mixture report share; see
    bpe_learn_and_encode for the scale argument."""
    vocab = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        # empty tokens (split artifacts of doubled/boundary spaces) carry
        # zero characters: excluded on BOTH engines (the oracle's
        # list_reduce errors on an empty token list)
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("wf"))
        .persist()
    )
    toks = F.split(F.col("word"), "")
    try:
        for _ in range(rounds):
            tv = vocab.select("wf", toks.alias("toks"))
            top = (
                tv.where(F.size("toks") >= 2)
                .select(
                    "wf",
                    F.explode(
                        F.expr(
                            "transform(sequence(0, size(toks) - 2),"
                            " i -> struct(toks[i] AS x, toks[i + 1] AS y))"
                        )
                    ).alias("p"),
                )
                .groupBy("p.x", "p.y")
                .agg(F.sum("wf").cast("long").alias("freq"))
                .orderBy(F.desc("freq"), F.asc("x"), F.asc("y"))
                .limit(1)
                .collect()
            )
            if not top:
                break
            toks = _bpe_merge_expr(toks, top[0]["x"], top[0]["y"])
        return vocab.select(
            "word",
            F.length("word").cast("long").alias("n_chars"),
            F.size(toks).cast("long").alias("enc"),
        )
    finally:
        vocab.unpersist()


def bm25_topk(
    docs: DataFrame,
    query_terms: tuple = ("window", "join", "hash"),
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 retrieval scoring: rank documents against a fixed
    term query (Robertson et al.; the Lucene-default relevance
    function) — the retrieval primitive data pipelines use for
    quality-by-retrieval selection (score docs against a trusted
    query/seed set) and for corpus search tooling.

    score(d) = sum over matched terms t of
        ln(1 + (N - df + 0.5) / (df + 0.5))            [Lucene idf]
        * tf * (k1 + 1) / (tf + k1*(1 - b + b*dl/avgdl))

    with dl = non-empty word count of d and avgdl its corpus mean.
    Scores round to 6 places BEFORE ranking (ties then break doc_id
    asc) so the cut is engine-stable.

    Scale shape: docs without any query term are dropped BEFORE the
    explode via arrays_overlap on the staged word array (the big win:
    for selective queries the shuffle carries only matching docs);
    dl is computed once per doc in a staged projection (never inside
    the generator row — the HOF-vs-CSE re-evaluation trap). tf is a
    partial-aggregable groupBy bounded by |matched docs| x |query|;
    df rides a count() window over partitionBy(term) on the same tf
    rows (r20 pass 2: the former groupBy(term) + broadcast join-back
    computed the scan+filter+explode+tf subtree twice). Skew bound: the
    DF window's exchange has at most |query_terms| keys, so each term's
    matched tf rows land in one task; the sf1 measurement that settles
    this form against a broadcast DF is ROADMAP.md direction 5. N and avgdl
    ride in as a 1-row broadcast crossJoin. The final top-k is
    orderBy + limit — Spark's TakeOrdered (per-partition heap +
    driver merge of k rows), never a global sort shuffle; the rank
    window runs on the k-row result only."""
    from pyspark.sql import Window

    arr = docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("ws")
    )
    staged = arr.select(
        F.col(id_col),
        F.size(F.filter(F.col("ws"), lambda w: w != "")).alias("dl"),
        F.col("ws"),
    )
    stats = staged.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    qlit = F.array(*[F.lit(t) for t in query_terms])
    tf = (
        staged.where(F.arrays_overlap("ws", qlit))
        .select(F.col(id_col), "dl", F.explode("ws").alias("term"))
        .where(F.col("term").isin(*query_terms))
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.round(
                F.sum(
                    F.log(
                        1
                        + (F.col("n_docs") - F.col("df") + 0.5)
                        / (F.col("df") + 0.5)
                    )
                    * F.col("tf")
                    * (k1 + 1.0)
                    / (
                        F.col("tf")
                        + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                    )
                ),
                6,
            ).alias("bm25"),
        )
    )
    top = scored.orderBy(F.desc("bm25"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("bm25"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def dsir_importance_topk(
    docs: DataFrame,
    target_source: str = "src0",
    n_buckets: int = 256,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """DSIR-style importance ranking (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how much more likely its hashed n-gram features are
    under a TARGET distribution than under the raw corpus, then keep
    the top-k — the standard cheap data-selection step for steering a
    pretraining mix toward a trusted domain without a learned
    classifier.

    Features: unigrams + space-joined bigrams, hashed to ``n_buckets``
    via the shared md5-60bit hash. Both models are add-1-smoothed
    multinomials over buckets: target counts from docs whose
    ``source_col`` equals ``target_source``; raw counts from the whole
    corpus. Per doc: avg log-likelihood ratio over its gram
    occurrences, sum(c_b * (ln p_t(b) - ln p_r(b))) / sum(c_b),
    rounded to 6 BEFORE ranking (ties doc_id asc).

    Scale shape: one explode -> ONE partial-aggregable groupBy(bucket)
    builds BOTH models (raw count + conditional target count per
    bucket — n_buckets rows total, broadcast back); per-doc bucket
    counts are a second partial-aggregable groupBy bounded by
    |docs| x n_buckets; gram totals ride in as a 1-row broadcast
    crossJoin. The hashed-feature trick is exactly what makes DSIR
    100 TB-shaped: model size is FIXED at n_buckets regardless of
    vocabulary, so the model join is always broadcast. Top-k is
    orderBy + limit (TakeOrdered), never a global sort shuffle."""
    from pyspark.sql import Window
    from flink_tutorial_spark.operators.dedup import md5_long

    ws = F.split(F.col(text_col), " ")
    arr = docs.select(F.col(id_col), F.col(source_col), ws.alias("ws"))
    grams = arr.select(
        F.col(id_col),
        F.col(source_col),
        F.concat(
            F.col("ws"),
            F.zip_with(
                F.slice(F.col("ws"), 1, F.size("ws") - 1),
                F.slice(F.col("ws"), 2, F.size("ws") - 1),
                lambda a, bb: F.concat_ws(" ", a, bb),
            ),
        ).alias("grams"),
    )
    g = (
        grams.select(
            F.col(id_col), F.col(source_col), F.explode("grams").alias("gram")
        )
        .where(F.col("gram") != "")
        .select(
            F.col(id_col),
            F.col(source_col),
            (md5_long(F.col("gram")) % n_buckets).alias("bucket"),
        )
    )
    is_target = F.col(source_col) == target_source
    model = g.groupBy("bucket").agg(
        F.count("*").alias("cr"),
        F.count(F.when(is_target, 1)).alias("ct"),
    )
    totals = g.agg(
        F.count("*").alias("tr"),
        F.count(F.when(is_target, 1)).alias("tt"),
    )
    doc_bucket = g.groupBy(id_col, source_col, "bucket").agg(
        F.count("*").alias("c")
    )
    bb = float(n_buckets)
    scored = (
        doc_bucket.join(F.broadcast(model), "bucket")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col, source_col)
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.round(
                F.sum(
                    F.col("c")
                    * (
                        F.log((F.col("ct") + 1.0) / (F.col("tt") + bb))
                        - F.log((F.col("cr") + 1.0) / (F.col("tr") + bb))
                    )
                )
                / F.sum("c"),
                6,
            ).alias("avg_llr"),
        )
    )
    top = scored.orderBy(F.desc("avg_llr"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("avg_llr"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


#: query-string parameters that carry tracking state, not content
#: identity — the standard strip set for crawl canonicalization.
#: Matched case-insensitively: tracking keys are conventionally
#: lowercase, but real crawls carry ``UTM_SOURCE=`` twins too.
TRACKING_PARAM_RE = "(?i)^(utm_[a-z]+|ref|fbclid|gclid)="

#: scheme + authority prefix of a URL (everything before the first
#: '/' or '?' after the scheme) — the only case-insensitive part of
#: a URL per RFC 3986 §6.2.2.1.
_URL_HEAD_RE = "^([^/?]*://[^/?]*)"


def url_canonicalize(
    df: DataFrame, url_col: str = "url", out_col: str = "canon_url"
) -> DataFrame:
    """Canonicalize a URL column the way web-corpus pipelines
    (C4/RefinedWeb-style crawl curation) do before URL-level dedup:
    drop the fragment, lowercase ONLY the scheme+host (RFC 3986: the
    authority is case-insensitive, the path and query are NOT — a
    whole-URL lowercase over-merges case-distinct paths on real
    crawls), strip a leading ``www.`` for both http and https, drop a
    trailing slash, and remove tracking query parameters
    (``utm_*``/``ref``/``fbclid``/``gclid``, key matched
    case-insensitively) while PRESERVING real parameters — two raw
    URLs that differ only in tracking noise collapse to one canonical
    form, URLs that differ in a real parameter (including by case)
    stay distinct.

    Two documented approximations of the RFC (ADVICE r11; the SQL
    oracle and the differential test encode the same behavior, so the
    engine/oracle pair stays internally consistent): (1) the lowercase
    covers the whole scheme://authority head, which for a
    credentials-bearing URL also lowercases the userinfo
    (``user:PASS@host``) — RFC 3986 keeps userinfo case-sensitive, so
    such URLs can over-merge; crawl-corpus URLs essentially never
    carry credentials, and a corpus where they do should split the
    head at the last ``@`` first. (2) A scheme-less string has no head
    match, so its host is never lowercased — scheme-less inputs are
    not URLs to a crawler and pass through on the path rules alone.

    Each step is a plain column expression (regexp_replace / filter +
    array_join), so the whole op is whole-stage-codegen'd and
    shuffle-free — at 100 TB this runs inside the scan stage. The
    query string is materialized through staged selects before the
    lambda consumes it (HOF lambdas defeat Catalyst CSE; re-deriving
    it inside ``filter`` would re-run the regex per element)."""
    u2, head, rest = "_uc_u2", "_uc_head", "_uc_rest"
    path, qs, kept = "_uc_path", "_uc_qs", "_uc_kept"
    out = (
        df.withColumn(u2, F.regexp_replace(F.col(url_col), "#.*$", ""))
        .withColumn(head, F.regexp_extract(F.col(u2), _URL_HEAD_RE, 1))
        .withColumn(
            rest,
            F.expr(f"substring({u2}, length({head}) + 1)"),
        )
        .withColumn(
            head,
            F.regexp_replace(
                F.lower(F.col(head)), "^(https?://)www\\.", "$1"
            ),
        )
        .withColumn(path, F.regexp_replace(F.col(rest), "\\?.*$", ""))
        .withColumn(
            qs,
            F.when(
                F.instr(F.col(rest), "?") > 0,
                F.expr(f"substring({rest}, instr({rest}, '?') + 1)"),
            ).otherwise(F.lit("")),
        )
        .withColumn(
            kept,
            F.array_join(
                F.filter(
                    F.split(F.col(qs), "&"),
                    lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
                ),
                "&",
            ),
        )
        .withColumn(
            out_col,
            F.concat(
                F.col(head),
                F.regexp_replace(F.col(path), "/$", ""),
                F.when(
                    F.col(kept) != "", F.concat(F.lit("?"), F.col(kept))
                ).otherwise(F.lit("")),
            ),
        )
    )
    return out.drop(u2, head, rest, path, qs, kept)
