"""Text-analysis operators for a training-data pipeline over ``documents``:
token stats, quality scoring, stopword-profile language-ID, and winnowing
fingerprints.

All four are pure column expressions / set-based joins — JVM-side,
whole-stage-codegen, no Python in the hot path — and every one has an exact
DuckDB oracle (same normalization, same 60-bit md5 hashes as
``pipeline.dedup``).

Scale notes (100 TB):
- tx1/tx2 are embarrassingly parallel projections — no shuffle at all; they
  belong fused into the ingest scan (Catalyst pipelines them for free).
- tx3 joins an exploded token stream against a ~dozen-row profile dim:
  broadcast join, then one groupBy(doc_id) — a single shuffle keyed by
  doc_id, no skew (docs are bounded length).
- tx4 is per-doc array math (no shuffle); the winnowed fingerprint explode
  multiplies rows by ~doc_len/w, which is the intended index shape for a
  downstream near-dup join on fingerprint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache_util import cache_dir
from ..corpus import IDIV
from ..io import load_table

# normalized text: lowercase, whitespace collapsed to single spaces
_SPARK_NORM = "trim(regexp_replace(lower(text), '\\\\s+', ' '))"
_DUCK_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

# BPE-ish pre-tokenizer over the normalized text: letter runs, single
# digits, single non-alnum marks (GPT-2-style coarse approximation)
_BPE_PAT = "[a-z]+|[0-9]|[^a-z0-9 ]"

# stopword-profile language-ID dimension: (lang, marker word)
_PROFILE = [
    ("en", "the"), ("en", "a"), ("en", "of"),
    ("es", "el"), ("es", "la"), ("es", "los"),
    ("fr", "le"), ("fr", "les"), ("fr", "une"),
    ("de", "der"), ("de", "die"), ("de", "das"),
    ("zh", "的"), ("zh", "是"), ("zh", "了"),
]
_LANGS = sorted({lang for lang, _ in _PROFILE})

_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it")

_K = 5  # fingerprint word-k-gram size
_W = 4  # winnowing window (in k-gram positions)

_SPARK_H = "CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"
_DUCK_H = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


def _with_norm(docs: DataFrame) -> DataFrame:
    return docs.withColumn("norm", F.expr(_SPARK_NORM)).withColumn(
        "words", F.split("norm", " ")
    )


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx1 — per-document token accounting: chars, whitespace tokens,
    distinct tokens, BPE-ish subword count, mean token length."""
    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.length("norm").cast("bigint").alias("n_chars"),
        F.size("words").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("words")).cast("bigint").alias("n_distinct_tokens"),
        F.expr(f"CAST(size(regexp_extract_all(norm, '{_BPE_PAT}', 0)) AS BIGINT)").alias("n_bpe_tokens"),
        (
            F.length(F.regexp_replace("norm", " ", "")).cast("double")
            / F.size("words").cast("double")
        ).alias("mean_token_len"),
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx2 — heuristic quality signals: length, punctuation ratio, stopword
    ratio, type-token ratio; ``keep`` = all thresholds pass (the classic
    pre-training corpus filter shape)."""
    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    stop_arr = ", ".join(f"'{w}'" for w in _STOPWORDS)
    scored = docs.select(
        "doc_id",
        F.length("norm").cast("bigint").alias("n_chars"),
        F.size("words").cast("bigint").alias("n_tokens"),
        (
            F.length(F.regexp_replace("norm", "[a-z0-9 ]", "")).cast("double")
            / F.length("norm").cast("double")
        ).alias("punct_ratio"),
        (
            F.expr(f"size(filter(words, w -> array_contains(array({stop_arr}), w)))").cast("double")
            / F.size("words").cast("double")
        ).alias("stopword_ratio"),
        (
            F.size(F.array_distinct("words")).cast("double") / F.size("words").cast("double")
        ).alias("type_token_ratio"),
    )
    return scored.withColumn(
        "keep",
        (F.col("n_tokens") >= 10)
        & (F.col("punct_ratio") <= 0.2)
        & (F.col("type_token_ratio") >= 0.2),
    )


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx3 — stopword-profile language identification: explode tokens, hit a
    tiny (lang, marker) dim (broadcast), argmax hits per doc with a
    deterministic (hits desc, lang asc) tie-break; zero-hit docs fall back to
    the alphabetically-first profile language (A12-style zero-fill)."""
    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    profile = spark.createDataFrame(_PROFILE, ["pred_lang", "word"])
    toks = docs.select("doc_id", "lang", F.explode("words").alias("word"))
    hits = (
        toks.join(F.broadcast(profile), "word")
        .groupBy("doc_id", "pred_lang")
        .agg(F.count("*").alias("hits"))
    )
    langs = spark.createDataFrame([(l,) for l in _LANGS], ["pred_lang"])
    grid = docs.select("doc_id", "lang").crossJoin(F.broadcast(langs))
    filled = grid.join(hits, ["doc_id", "pred_lang"], "left").fillna(0, ["hits"])
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("pred_lang"))
    return (
        filled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "pred_lang", "hits")
    )


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx4 — winnowing document fingerprints (Schleimer et al. 2003 shape):
    60-bit hashes of word-5-grams, distinct min per sliding window of 4
    positions. Output is the (doc_id, fingerprint) index a near-dup join
    would consume."""
    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    kgram = "concat_ws(' ', slice(words, i, %d))" % _K
    return (
        docs.filter(F.size("words") >= _K + _W - 1)
        .select(
            "doc_id",
            F.expr(
                f"transform(sequence(1, size(words) - {_K - 1}),"
                f" i -> {_SPARK_H.format(x=kgram)})"
            ).alias("h"),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(1, size(h) - {_W - 1}),"
                    f" i -> array_min(slice(h, i, {_W}))))"
                )
            ).alias("fingerprint"),
        )
    )


def stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx5 — deterministic train/val/test split + per-(lang, split)
    stratification stats, the standard pre-training data-prep step: bucket
    = 60-bit md5 of the doc_id mod 100 (content-independent, stable across
    runs and engines), 80/10/10. Pure projection + one grouped aggregate —
    no shuffle beyond the final groupBy; at 100 TB the split column is
    computed in the ingest scan and the rollup is a partial-agg'd
    aggregation over (lang, split)."""
    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    bucket = F.expr(_SPARK_H.format(x="CAST(doc_id AS STRING)")) % 100
    tagged = docs.select(
        "lang",
        F.size("words").cast("bigint").alias("n_tokens"),
        F.length("norm").cast("bigint").alias("n_chars"),
        F.when(bucket < 80, "train").when(bucket < 90, "val")
        .otherwise("test").alias("split"),
    )
    return tagged.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.round(F.avg(F.col("n_chars").cast("double")), 9).alias("avg_chars"),
    )


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx6 — corpus-unigram log-probability scoring (the perplexity-filter
    shape): train an add-one-smoothed unigram LM on the corpus itself
    (token counts + vocab size), then score each document by its mean
    token log-probability. Low scorers are rare-token/garbage documents —
    the classic LM-based quality gate.

    Scale: one groupBy(token) builds the model; the scoring join hits the
    vocab dim (broadcast — even a 10M-type vocabulary is ~100 MB) and one
    groupBy(doc_id) aggregates. Cross-engine floats: ln() may differ in
    the last ulp between engines, so the mean is rounded to 6 decimals."""
    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode("words").alias("word"))
    vocab = toks.groupBy("word").agg(F.count("*").alias("c"))
    totals = vocab.groupBy().agg(
        F.sum("c").alias("n"), F.count("*").alias("v")
    )
    scored = (
        toks.join(F.broadcast(vocab), "word")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.log(
                (F.col("c") + 1).cast("double") / (F.col("n") + F.col("v")).cast("double")
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )


_TFIDF_K = 5


_PACK_BUDGET = 2048  # token budget per packed training sequence
_PACK_SHARDS = 64    # packing is shard-local: no global sort at scale


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx9 — deterministic greedy sequence packing: documents are hashed
    into shards, ordered longest-first within each shard, and cut into
    fixed-token-budget bins by running-sum arithmetic (a doc whose
    cumulative total crosses a budget boundary starts the next bin) —
    the standard chunked-greedy packer for pre-training batch
    construction. Output is one row per bin with its fill statistics.

    Scale shape: packing is SHARD-LOCAL — one shuffle to shards, a
    within-shard window (shard sizes are uniform by hash), and a grouped
    agg; there is no global sort, so the plan is flat at any corpus
    size. Bin quality loses a little to a global longest-first pack,
    which is the accepted trade for parallelism."""
    docs = _with_norm(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.least(
            F.size("words").cast("bigint"), F.lit(_PACK_BUDGET)
        ).alias("n_tokens"),  # oversize docs truncate to one full bin
        (F.expr(_SPARK_H.format(x="CAST(doc_id AS STRING)"))
         % _PACK_SHARDS).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    packed = docs.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        # integer DIV, not double /: exact past 2^53 cumulative tokens
        # per shard, matching the oracle's // (ADVICE r12). GREATEST
        # clamps the cum=0 corner (a shard whose first doc has 0
        # tokens) where Spark's trunc-DIV and DuckDB's floor-// would
        # otherwise disagree on (0-1)/budget (ADVICE r13)
        "bin",
        F.expr(f"CAST(GREATEST(cum - 1, 0) DIV {_PACK_BUDGET} AS BIGINT)"),
    )
    return packed.groupBy("shard", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


def split_packing_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx34 — CROSS-SPLIT PACKING LEAKAGE audit: run tx9's exact
    shard-local greedy packer while carrying each document's tx5 split
    label, then census the packed sequences (bins) by their split
    COMPOSITION — the sorted '+'-joined set of splits present in the
    bin. A split-blind packer happily packs a val/test document into
    the same fixed-budget training sequence (and thus the same
    attention context) as train documents; every 'train+…' composition
    row quantifies exactly that document-boundary leakage, with
    ``eval_tokens`` the non-train token mass inside those bins (for the
    pure 'val'/'test' rows the same column is just their token mass —
    the composition says which reading applies). The production fix is
    packing per split; this is the audit that says how much leaks if
    you don't.

    Scale shape: tx9's — one shuffle to shards, a within-shard window,
    then the (shard, bin) aggregate RIDES the shard partitioning
    (clustering by shard already co-locates every (shard, bin) group,
    so no second exchange) and the composition rollup is a ≤7-row
    aggregate. The split label is a scan-side md5 projection (tx5),
    adding no shuffle."""
    bucket = F.expr(_SPARK_H.format(x="CAST(doc_id AS STRING)")) % 100
    docs = _with_norm(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.least(
            F.size("words").cast("bigint"), F.lit(_PACK_BUDGET)
        ).alias("n_tokens"),
        (F.expr(_SPARK_H.format(x="CAST(doc_id AS STRING)"))
         % _PACK_SHARDS).alias("shard"),
        F.when(bucket < 80, "train").when(bucket < 90, "val")
        .otherwise("test").alias("split"),
    )
    w = Window.partitionBy("shard").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    packed = docs.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "bin",
        F.expr(f"CAST(GREATEST(cum - 1, 0) DIV {_PACK_BUDGET} AS BIGINT)"),
    )
    bins = packed.groupBy("shard", "bin").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("toks"),
        F.sum(
            F.when(F.col("split") != "train", F.col("n_tokens"))
            .otherwise(F.lit(0))
        ).cast("bigint").alias("etoks"),
        F.array_join(F.array_sort(F.collect_set("split")), "+")
        .alias("composition"),
    )
    return bins.groupBy("composition").agg(
        F.count("*").cast("bigint").alias("n_bins"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("toks").cast("bigint").alias("total_tokens"),
        F.sum("etoks").cast("bigint").alias("eval_tokens"),
    )


_BLOCKLIST = ("slow", "error", "drop", "crash")  # policy-banned terms

# deterministic per-source sampling rates for corpus mixture construction;
# sources not listed fall through to _MIX_DEFAULT
_MIX_RATES = {"src0": 1.0, "src1": 1.0, "src2": 0.75, "src3": 0.75,
              "src4": 0.5, "src5": 0.5}
_MIX_DEFAULT = 0.25

# Gopher-style repetition gates (Rae et al. 2021, table A1 shape): docs
# dominated by one token or with few distinct tokens are dropped
_REP_MAX_TOP_FRAC = 0.15
_REP_MAX_DUP_FRAC = 0.75


def blocklist_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx10 — blocklist policy filter rollup: per source, how many
    documents contain any banned term and the per-doc mean count of
    distinct banned terms present. The standard safety/policy gate over a
    crawl corpus, here as membership tests against a tiny in-expression
    term list.

    Scale: the blocklist is a constant folded into the projection (a real
    1k-term list would broadcast-join an exploded token stream instead);
    the rollup is one partial-agg'd groupBy(source) — a single shuffle of
    20 rows per partition."""
    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    n_banned = sum(
        (F.array_contains("words", t).cast("int") for t in _BLOCKLIST),
        F.lit(0),
    ).cast("bigint")
    per_doc = docs.select(
        "source", n_banned.alias("n_banned"),
        (n_banned > 0).cast("int").alias("flagged"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("flagged").cast("bigint").alias("n_flagged"),
        F.round(F.avg(F.col("flagged").cast("double")), 9).alias("flag_rate"),
        F.round(F.avg(F.col("n_banned").cast("double")), 9)
        .alias("avg_banned_terms"),
    )


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx11 — Gopher-style repetition signals per document: duplicate-word
    fraction (1 - distinct/total), top-word fraction (most frequent
    word's share), duplicate-2-gram fraction, and the keep gate.

    Scale shape: both signal families are two-level aggregations —
    groupBy(doc, word) then groupBy(doc) — so the map-side partial agg
    collapses each doc's tokens before the shuffle; the final join is
    doc_id-keyed between two already-aggregated sides. No per-doc O(L^2)
    higher-order-function scans, so a single 1 GB document costs L log L,
    not L^2."""
    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode("words").alias("word"))
    word_stats = (
        toks.groupBy("doc_id", "word").agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_words"),
            F.count("*").cast("bigint").alias("n_distinct"),
            F.max("c").cast("bigint").alias("top_count"),
        )
    )
    grams = docs.filter(F.size("words") >= 2).select(
        "doc_id", F.explode(F.expr(_SPARK_2GRAMS)).alias("gram")
    )
    gram_stats = (
        grams.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_grams"),
            F.count("*").cast("bigint").alias("n_distinct_grams"),
        )
    )
    dup_word = 1 - F.col("n_distinct") / F.col("n_words").cast("double")
    top_word = F.col("top_count") / F.col("n_words").cast("double")
    dup_gram = 1 - F.col("n_distinct_grams") / F.col("n_grams").cast("double")
    return (
        word_stats.join(gram_stats, "doc_id", "left")
        .select(
            "doc_id", "n_words", "n_distinct", "top_count",
            F.round(dup_word, 9).alias("dup_word_frac"),
            F.round(top_word, 9).alias("top_word_frac"),
            F.round(F.coalesce(dup_gram, F.lit(0.0)), 9).alias("dup_2gram_frac"),
            ((top_word <= _REP_MAX_TOP_FRAC)
             & (dup_word <= _REP_MAX_DUP_FRAC)).alias("keep"),
        )
    )


def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx12 — deterministic source-mixture sampling: each source gets a
    target sampling rate (_MIX_RATES, the domain-weighting step of
    pre-training corpus construction) and a document is kept when its
    content-independent hash bucket falls under the rate. Output is the
    per-source realized mixture. The hash is salted ('mix:' prefix) so
    the decision is independent of tx5's split buckets.

    Scale: pure projection + one grouped aggregate; the rate lookup is a
    constant-folded CASE (a large domain->rate table would broadcast)."""
    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    rate = F.lit(_MIX_DEFAULT)
    for src, r in _MIX_RATES.items():
        rate = F.when(F.col("source") == src, F.lit(r)).otherwise(rate)
    bucket = F.expr(
        _SPARK_H.format(x="concat('mix:', CAST(doc_id AS STRING))")
    ) % 10000
    tagged = docs.select(
        "source",
        F.size("words").cast("bigint").alias("n_tokens"),
        rate.alias("rate"),
        (bucket < (rate * 10000).cast("bigint")).cast("int").alias("kept"),
    )
    return tagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("kept").cast("bigint").alias("n_kept"),
        F.round(F.avg(F.col("kept").cast("double")), 9).alias("kept_rate"),
        F.sum(F.col("n_tokens") * F.col("kept")).cast("bigint")
        .alias("sum_kept_tokens"),
        F.max("rate").alias("target_rate"),
    )


# word-2-gram stream over the normalized ``words`` array (the 3-gram twin
# lives in dedup._shingles_of); shared by tx11 and tx13 so their
# tokenization can never diverge
_SPARK_2GRAMS = ("transform(sequence(1, size(words) - 1),"
                 " i -> concat_ws(' ', slice(words, i, 2)))")

_VOCAB_SIZE = 20  # tokenizer vocabulary: top-V corpus words


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx14 — tokenizer-vocabulary coverage: build the top-_VOCAB_SIZE
    word vocabulary from corpus counts (ties to the lexicographically
    smaller word) and score every document's out-of-vocabulary rate —
    the coverage check run before committing a tokenizer to a corpus.

    Scale: the vocab derives from one token groupBy, and the top-V cut is
    a distributed sort-limit (TakeOrderedAndProject — per-partition top-V
    then a V-row merge, never a single-partition global window); the
    resulting V rows broadcast into the scoring join plus one
    groupBy(doc_id). A 100k-type vocabulary is still a few MB — the
    broadcast holds at any corpus size."""
    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode("words").alias("word"))
    vocab = (
        toks.groupBy("word").agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("word"))
        .limit(_VOCAB_SIZE)
        .select("word", F.lit(1).alias("in_vocab"))
    )
    scored = toks.join(F.broadcast(vocab), "word", "left")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            (F.count("*") - F.coalesce(F.sum("in_vocab"), F.lit(0)))
            .cast("bigint").alias("n_oov"),
        )
        .select(
            "doc_id", "n_tokens", "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens").cast("double"), 9)
            .alias("oov_rate"),
        )
    )


def pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx15 — the cleaning-funnel report every data team publishes: doc
    and token survival through the composed pipeline stages
    raw -> exact dedup (dd1's canonical keep) -> quality gate (tx2's
    keep) -> blocklist policy (tx10's no-banned-term pass), each stage
    filtering the previous one's survivors. One row per stage with
    counts and the fraction of the raw corpus remaining.

    Scale: one pass computes every per-doc flag in a single projection
    (+ the dedup min over a digest window); the funnel is then four
    conditional aggregates over that one stream — no per-stage rescans."""
    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    stop_arr = ", ".join(f"'{w}'" for w in _STOPWORDS)
    n_banned = sum(
        (F.array_contains("words", t).cast("int") for t in _BLOCKLIST),
        F.lit(0),
    )
    wd = Window.partitionBy(F.md5("text"))
    flags = docs.select(
        F.size("words").cast("bigint").alias("n_tokens"),
        (F.col("doc_id") == F.min("doc_id").over(wd)).alias("p_dedup"),
        (
            (F.size("words") >= 10)
            & (
                F.length(F.regexp_replace("norm", "[a-z0-9 ]", ""))
                / F.length("norm").cast("double") <= 0.2
            )
            & (
                F.size(F.array_distinct("words"))
                / F.size("words").cast("double") >= 0.2
            )
        ).alias("p_quality"),
        (n_banned == 0).alias("p_policy"),
    )
    stages = [
        ("raw", F.lit(True)),
        ("exact_dedup", F.col("p_dedup")),
        ("quality_gate", F.col("p_dedup") & F.col("p_quality")),
        ("blocklist_policy",
         F.col("p_dedup") & F.col("p_quality") & F.col("p_policy")),
    ]
    agg = flags.agg(
        F.count("*").alias("raw_docs"),
        *[
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")
            .alias(f"d{i}")
            for i, (_, cond) in enumerate(stages)
        ],
        *[
            F.sum(F.when(cond, F.col("n_tokens")).otherwise(0)).cast("bigint")
            .alias(f"t{i}")
            for i, (_, cond) in enumerate(stages)
        ],
    )
    rows = [
        agg.select(
            F.lit(i + 1).cast("bigint").alias("stage"),
            F.lit(name).alias("stage_name"),
            F.col(f"d{i}").alias("n_docs"),
            F.col(f"t{i}").alias("n_tokens"),
            F.round(F.col(f"d{i}") / F.col("raw_docs").cast("double"), 9)
            .alias("pct_docs_of_raw"),
        )
        for i, (name, _) in enumerate(stages)
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


_BOILER_TAU = 0.2  # a 2-gram is boilerplate when it spans >= 20% of a source's docs


def boilerplate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx13 — C4-style boilerplate detection: a word-2-gram is boilerplate
    for a source when it appears in at least _BOILER_TAU of that source's
    documents (navigation chrome, headers, license footers in a real
    crawl); each document is scored by the fraction of its distinct
    2-grams that are boilerplate.

    Scale shape: the document-frequency agg shuffles once on
    (source, gram); the boilerplate set it yields is tiny by construction
    (high-df tail), so it broadcasts back against the shingle stream and
    the per-doc rollup is the only other shuffle. No big-big join."""
    d = _with_norm(load_table(spark, sf_dir, "documents")).filter(
        F.size("words") >= 2
    )
    sh = d.select(
        "doc_id", "source",
        F.explode(F.array_distinct(F.expr(_SPARK_2GRAMS))).alias("gram"),
    )
    n_docs = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    boiler = (
        sh.groupBy("source", "gram").agg(F.count("*").alias("df"))
        .join(F.broadcast(n_docs), "source")
        .filter(F.col("df") / F.col("n_docs").cast("double") >= _BOILER_TAU)
        .select("source", "gram", F.lit(1).alias("hit"))
    )
    per_doc = (
        sh.join(F.broadcast(boiler), ["source", "gram"], "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("n_boiler"),
        )
    )
    return per_doc.select(
        "doc_id", "source", "n_grams", "n_boiler",
        F.round(F.col("n_boiler") / F.col("n_grams").cast("double"), 9)
        .alias("boiler_frac"),
    )


_CONTAM_TAU = 0.5  # flagged when half a doc's shingles appear in test


def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx8 — train/test contamination check (benchmark decontamination):
    for every train-split document, the fraction of its distinct word-3-
    gram shingles that occur anywhere in the test split; ``flagged`` when
    the overlap reaches _CONTAM_TAU. The split is tx5's content-
    independent doc_id hash bucket, so no join against a split table is
    needed — the bucket derives on the shingle rows directly.

    Scale shape: the test split is a fixed small fraction (10%), so its
    distinct-shingle set broadcasts; the single left join + grouped agg
    over train shingles is one shuffle keyed by doc_id. The standard
    decontamination pass over a pre-training corpus."""
    from .dedup import _shingles_df  # noqa: PLC0415

    sh = _shingles_df(spark, sf_dir).withColumn(
        "bucket", F.expr(_SPARK_H.format(x="CAST(doc_id AS STRING)")) % 100
    )
    test_set = (
        sh.filter(F.col("bucket") >= 90).select("shingle").distinct()
        .withColumn("hit", F.lit(1))
    )
    train = sh.filter(F.col("bucket") < 80)
    per_doc = (
        train.join(F.broadcast(test_set), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint")
            .alias("n_contaminated"),
        )
    )
    ratio = F.col("n_contaminated") / F.col("n_shingles").cast("double")
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        F.round(ratio, 9).alias("contamination"),
        (ratio >= _CONTAM_TAU).alias("flagged"),
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx7 — per-document top-5 TF-IDF terms: tf(term, doc) * ln(N/df),
    ranked per doc (rounded score desc, term asc — ranking on the ROUNDED
    score with a total tie-break means last-ulp ln() differences between
    engines can never flip top-k membership).

    Scale: one shuffle to (doc, term) counts, document frequency as a
    broadcast-sized vocab dim (term space is bounded; a web-scale vocab
    still fits executor memory), rank windows keyed per doc over <= vocab
    pre-aggregated rows. No global sort, no all-pairs."""
    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode("words").alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    total = docs.groupBy().agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "score",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
                6,
            ),
        )
    )
    rk = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(rk).cast("bigint"))
        .filter(F.col("rank") <= _TFIDF_K)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx16 — corpus-bigram log-probability scoring: the KenLM-filter
    shape one order up from tx6's unigram gate. The corpus trains an
    add-one-smoothed bigram LM (context counts derived from the bigram
    table itself, vocabulary = distinct continuation tokens), and each
    document scores its mean conditional log-probability
    ln((c(w1,w2)+1) / (c(w1,·)+V)). Repetitive/templated text scores
    high, token-salad scores low — the standard second-order quality
    gate (tx6 catches rare TOKENS; tx16 catches improbable TRANSITIONS).

    Scale: one groupBy over the exploded bigram stream builds the model
    (bigram vocab ~ V^2 worst case but Zipf-bounded in practice); the
    scoring join broadcasts the model dims, then one groupBy(doc_id).
    ln() rounds to 6 decimals before the cross-engine compare."""
    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    bi = (
        docs.filter(F.size("words") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(words) - 1),"
                    " i -> concat(words[i-1], ' ', words[i]))"
                )
            ).alias("bg"),
        )
    )
    c2 = bi.groupBy("bg").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy(
        F.substring_index("bg", " ", 1).alias("w1")
    ).agg(F.sum("c2").alias("c1"))
    v = bi.select(
        F.substring_index("bg", " ", -1).alias("w2")
    ).agg(F.countDistinct("w2").alias("v"))
    scored = (
        bi.join(F.broadcast(c2), "bg")
        .withColumn("w1", F.substring_index("bg", " ", 1))
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.log(
                (F.col("c2") + 1).cast("double")
                / (F.col("c1") + F.col("v")).cast("double")
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )


def zipf_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx17 — the ZIPF FREQUENCY SPECTRUM (frequency-of-frequencies):
    how many distinct terms occur exactly f times, with each class's
    share of the total token mass. The log-log shape of this table is
    the standard corpus-health check — a scrape with duplicated
    boilerplate or synthetic text bends away from the power law, and
    the hapax count (f=1) drives vocabulary-growth estimates
    (Good-Turing smoothing reads its mass straight off this table).

    Scale: one groupBy(term) then a groupBy over term-cardinality rows —
    the second agg's input is the vocabulary, not the corpus."""
    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.explode("words").alias("word"))
    vocab = toks.groupBy("word").agg(F.count("*").alias("c"))
    totals = vocab.groupBy().agg(F.sum("c").alias("n_tokens"))
    return (
        vocab.groupBy(F.col("c").alias("freq"))
        .agg(F.count("*").alias("n_terms"))
        .crossJoin(F.broadcast(totals))
        .select(
            "freq", "n_terms",
            F.round(
                (F.col("freq") * F.col("n_terms")).cast("double")
                / F.col("n_tokens").cast("double"), 9,
            ).alias("token_share"),
        )
    )


def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx18 — per-document Shannon ENTROPY of the token distribution (in
    bits): H = log2(n) - (1/n)·Σ c·log2(c) over within-doc term counts —
    the information-density quality signal that catches what tx2's ratio
    thresholds cannot: keyword-stuffed or template-generated text scores
    low-entropy at any length, and near-random token soup scores at the
    log2(vocabulary) ceiling. The standard pre-training filter pairs this
    with tx11's repetition stats.

    Scale: explode -> (doc, term) count -> per-doc agg, both shuffles
    keyed by doc_id (the second reuses the first's partitioning). Float
    discipline: each c·log2(c) term rounds to 6 decimals and accumulates
    as DECIMAL(18,6) — exact and commutative, so partial-agg order can
    never move the gate value (the SCALE.md sum rule)."""
    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode("words").alias("word"))
    wc = toks.groupBy("doc_id", "word").agg(F.count("*").alias("c"))
    per_doc = wc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.sum(
            F.round(F.col("c") * F.log2("c"), 6).cast("decimal(18,6)")
        ).alias("s"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(
            F.log2("n_tokens") - F.col("s").cast("double") / F.col("n_tokens"),
            9,
        ).alias("entropy_bits"),
    )


def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx19 — DSIR-style IMPORTANCE WEIGHTS for domain-targeted data
    selection (Xie et al. 2023's shape with unigram features): train an
    add-one-smoothed unigram LM on the TARGET domain (the
    alphabetically-first source — a deterministic stand-in for "the
    domain you want more of") and one on the whole corpus, then score
    every document by its mean per-token log(p_target / p_corpus).
    High scorers read like the target domain; sampling proportional to
    exp(score) is the DSIR resampling step. Both LMs share the corpus
    vocabulary as smoothing support, so unseen-in-target tokens are
    well-defined.

    Scale: two vocab dims built by one token groupBy each, both
    broadcast back over the token stream (tx6's plan — even a 10M-type
    vocab is ~100 MB); one doc-keyed agg. Mean rounds to 6 decimals
    (ln() last-ulp discipline, as tx6)."""
    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    target = docs.groupBy().agg(F.min("source").alias("target_src"))
    toks = docs.select("doc_id", "source", F.explode("words").alias("word"))
    vocab = toks.groupBy("word").agg(F.count("*").alias("c"))
    tvocab = (
        toks.crossJoin(F.broadcast(target))
        .filter(F.col("source") == F.col("target_src"))
        .groupBy("word")
        .agg(F.count("*").alias("ct"))
    )
    totals = vocab.groupBy().agg(F.sum("c").alias("n"), F.count("*").alias("v"))
    ttotals = tvocab.groupBy().agg(F.sum("ct").alias("nt"))
    scored = (
        toks.join(F.broadcast(vocab), "word")
        .join(F.broadcast(tvocab), "word", "left")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(ttotals))
        .select(
            "doc_id",
            "source",
            (
                F.log(
                    (F.coalesce("ct", F.lit(0)) + 1).cast("double")
                    / (F.col("nt") + F.col("v")).cast("double")
                )
                - F.log(
                    (F.col("c") + 1).cast("double")
                    / (F.col("n") + F.col("v")).cast("double")
                )
            ).alias("lr"),
        )
    )
    return scored.groupBy("doc_id", "source").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        # + 0.0 collapses IEEE negative zero: a near-zero mean's SIGN is
        # accumulation-order noise, and -0.0 vs 0.0 would hash-differ
        (F.round(F.avg("lr"), 6) + F.lit(0.0)).alias("avg_log_ratio"),
    )


_DUCK_WORDS = f"string_split({_DUCK_NORM}, ' ')"

_PROFILE_VALUES = ", ".join(f"('{lang}', '{w}')" for lang, w in _PROFILE)
_LANG_VALUES = ", ".join(f"('{lang}')" for lang in _LANGS)
_STOP_LIST = ", ".join(f"'{w}'" for w in _STOPWORDS)

def curated_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """snk1 — the curated-corpus EXPORT sink, the pipeline's final stage:
    tx2's kept documents physically written as parquet PARTITIONED BY
    (lang, source) — the layout a downstream trainer's data loader reads
    with partition pruning — then read BACK for the manifest this query
    returns (partition, row count, one file per partition). The
    round-trip through real files is the point: the driver row verifies
    the write path end to end, not a plan that never materialized.

    Layout contract: `repartition(lang, source)` routes every partition
    key to exactly one task before `partitionBy`, so each (lang, source)
    directory holds ONE file (n_files is asserted 1 in the output —
    a layout regression, e.g. losing the repartition, fails the oracle);
    rows sort by doc_id within files for reproducible bytes. At 100 TB
    the same plan shards each partition by adding a bucket column to the
    repartition keys and `maxRecordsPerFile` — the knobs change, the
    shape doesn't. Output cardinality is |langs x sources|, tiny."""
    docs = load_table(spark, sf_dir, "documents")
    kept = quality_score(spark, sf_dir).filter("keep").select("doc_id")
    out = cache_dir("export", sf_dir)
    (
        docs.join(kept, "doc_id")
        .select("doc_id", "text", "n_chars", "lang", "source")
        # explicit numPartitions (see snk6): a bare repartition(cols) is
        # AQE-coalesced to one task on a small batch, serializing every
        # partition dir's file-writer overhead onto one core
        .repartition(spark.sparkContext.defaultParallelism, "lang", "source")
        # partition cols lead the sort so the writer's required
        # (lang, source) ordering is already satisfied and it keeps the
        # doc_id order instead of re-sorting (its sorter is not stable)
        .sortWithinPartitions("lang", "source", "doc_id")
        .write.partitionBy("lang", "source")
        .mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).withColumn("f", F.input_file_name())
    return (
        back.groupBy("lang", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct("f").cast("bigint").alias("n_files"),
        )
    )


_SNK1_SQL = f"""
        WITH d AS (SELECT doc_id, lang, source, {_DUCK_NORM} AS norm,
                          {_DUCK_WORDS} AS words FROM documents),
        kept AS (
          SELECT doc_id, lang, source FROM d
          WHERE len(words) >= 10
            AND CAST(length(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                / CAST(length(norm) AS DOUBLE) <= 0.2
            AND CAST(len(list_distinct(words)) AS DOUBLE)
                / CAST(len(words) AS DOUBLE) >= 0.2)
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(1 AS BIGINT) AS n_files
        FROM kept GROUP BY lang, source"""


def incremental_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """snk2 — INCREMENTAL export via DYNAMIC partition overwrite, the
    daily-append pattern snk1's full rewrite can't afford at 100 TB:
    yesterday's curated corpus (the dd10 seen split) sits in the
    partitioned layout; today's shard overwrites ONLY the (lang, source)
    partitions it touches (``partitionOverwriteMode=dynamic``), leaving
    every untouched partition's files in place. The manifest reads the
    whole layout back: touched partitions hold exactly the new shard's
    kept rows, untouched ones still hold the seen rows — which is the
    oracle's statement, so the driver row witnesses the overwrite-scope
    semantics themselves, not just row counts.

    Scale: the write moves only today's shard; untouched partitions cost
    zero I/O — THE property that makes a partitioned lake maintainable.
    Same one-file-per-partition routing as snk1."""
    import os  # noqa: PLC0415
    from .dedup import _INCR_SPLIT, _SPARK_H  # noqa: PLC0415

    docs = load_table(spark, sf_dir, "documents")
    kept = (
        docs.join(quality_score(spark, sf_dir).filter("keep").select("doc_id"), "doc_id")
        .select("doc_id", "text", "n_chars", "lang", "source")
        .withColumn(
            "bucket", F.expr(_SPARK_H.format(x="CAST(doc_id AS STRING)")) % 100
        )
    )
    out = cache_dir("export", os.path.normpath(sf_dir) + "_incr")

    def write(df):
        (
            df.drop("bucket")
            # explicit numPartitions (see snk6): keep the writer parallel
            .repartition(
                spark.sparkContext.defaultParallelism, "lang", "source"
            )
            .sortWithinPartitions("lang", "source", "doc_id")
            .write.partitionBy("lang", "source")
            .mode("overwrite")
            .parquet(out)
        )

    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, "static")
    spark.conf.set(key, "static")
    try:
        write(kept.filter(F.col("bucket") < _INCR_SPLIT))
        spark.conf.set(key, "dynamic")
        write(kept.filter(F.col("bucket") >= _INCR_SPLIT))
    finally:
        spark.conf.set(key, old)
    return (
        spark.read.parquet(out)
        .groupBy("lang", "source")
        .agg(F.count("*").cast("bigint").alias("n_rows"))
    )


def _snk2_oracle() -> str:
    from .dedup import _DUCK_H, _INCR_SPLIT  # noqa: PLC0415

    return f"""
        WITH d AS (SELECT doc_id, lang, source, {_DUCK_NORM} AS norm,
                          {_DUCK_WORDS} AS words,
                          {_DUCK_H.format(x="CAST(doc_id AS VARCHAR)")} % 100
                            AS bucket
                   FROM documents),
        kept AS (
          SELECT doc_id, lang, source, bucket FROM d
          WHERE len(words) >= 10
            AND CAST(length(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                / CAST(length(norm) AS DOUBLE) <= 0.2
            AND CAST(len(list_distinct(words)) AS DOUBLE)
                / CAST(len(words) AS DOUBLE) >= 0.2),
        new_parts AS (
          SELECT DISTINCT lang, source FROM kept
          WHERE bucket >= {_INCR_SPLIT})
        SELECT k.lang, k.source, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM kept k LEFT JOIN new_parts np
          ON np.lang = k.lang AND np.source = k.source
        WHERE (np.lang IS NOT NULL AND k.bucket >= {_INCR_SPLIT})
           OR (np.lang IS NULL AND k.bucket < {_INCR_SPLIT})
        GROUP BY k.lang, k.source"""


_SWEEP_STEPS = 20  # threshold grid: k/_SWEEP_STEPS for k = 0.._SWEEP_STEPS


def quality_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx21 — QUALITY-THRESHOLD retention sweep: for each cutoff k/20 on
    tx2's type-token ratio, how many documents and tokens survive
    ``ttr >= cutoff`` (count + fraction) — the retention-vs-threshold
    curve a filtering deployment reads BEFORE pinning the cutoff tx2
    hard-codes (raise it until token loss bends, the standard
    quality/quantity trade). 21 rows at any corpus size.

    Exactness: a doc's grid bucket is floor(20*distinct/count) computed
    as INTEGER division — the boundary doc (ttr exactly k/20) can never
    land differently across engines the way a rounded-double bucket
    could. Scale: one full-data pass collapses to a 21-bucket histogram
    (map-side partial agg); the suffix-cumulative window runs over the
    zero-filled 21-row grid, never the corpus — ev21's
    histogram-not-sort construction on the quality axis."""
    per = (
        _with_norm(load_table(spark, sf_dir, "documents"))
        .select(
            F.size(F.array_distinct("words")).cast("bigint").alias("d"),
            F.size("words").cast("bigint").alias("c"),
        )
        .select(
            F.expr(f"CAST({_SWEEP_STEPS} * d AS BIGINT) DIV c").alias("bucket"),
            F.col("c").alias("n_tokens"),
        )
    )
    hist = per.groupBy("bucket").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_toks")
    )
    totals = per.groupBy().agg(
        F.count("*").alias("tot_docs"), F.sum("n_tokens").alias("tot_toks")
    )
    grid = (
        spark.range(0, _SWEEP_STEPS + 1)
        .select(F.col("id").cast("bigint").alias("k"))
        .join(hist, F.col("k") == F.col("bucket"), "left")
        .select(
            "k",
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
            F.coalesce("n_toks", F.lit(0)).alias("n_toks"),
        )
    )
    w = Window.orderBy(F.desc("k")).rowsBetween(Window.unboundedPreceding, 0)
    return (
        grid.select(
            "k",
            F.sum("n_docs").over(w).cast("bigint").alias("docs_retained"),
            F.sum("n_toks").over(w).cast("bigint").alias("tokens_retained"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            (F.col("k").cast("double") / _SWEEP_STEPS).alias("threshold"),
            "docs_retained",
            "tokens_retained",
            F.round(F.col("docs_retained") / F.col("tot_docs").cast("double"), 9)
            .alias("doc_frac"),
            F.round(F.col("tokens_retained") / F.col("tot_toks").cast("double"), 9)
            .alias("token_frac"),
        )
    )


_PPL_BUCKETS = 10


def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx22 — PERPLEXITY-STRATIFIED corpus profile: decile-bucket every
    document by tx6's unigram-LM mean log-probability (the CCNet recipe —
    head/middle/tail quality strata from an in-domain LM) and profile
    each stratum: volume, token mass, score range, source diversity.
    The table a mixture designer reads to decide how much of each
    quality stratum enters the training blend.

    Determinism: bucket = NTILE over (avg_logprob, doc_id) — the score is
    already rounded to 6 decimals by tx6 (cross-engine identical, driver
    green), and the doc_id tie-break makes the decile edges exact in both
    engines.

    Scale: the global NTILE is a rank over ONE row per document (the
    aggregate scores, not tokens) — at 100 TB this swaps for approximate
    decile boundaries (percentile_approx, mergeable) broadcast back, the
    same two-pass shape as a19; the per-stratum rollup is an ordinary
    groupBy."""
    scored = unigram_logprob(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.orderBy("avg_logprob", "doc_id")
    bucketed = (
        scored.join(docs, "doc_id")
        .withColumn("bucket", F.ntile(_PPL_BUCKETS).over(w).cast("bigint"))
    )
    return bucketed.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.min("avg_logprob").alias("min_logprob"),
        F.max("avg_logprob").alias("max_logprob"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )


_TX21_SQL = f"""
        WITH per AS (
          SELECT ({_SWEEP_STEPS} * len(list_distinct(w))) // len(w) AS bucket,
                 CAST(len(w) AS BIGINT) AS n_tokens
          FROM (SELECT {_DUCK_WORDS} AS w FROM documents)),
        hist AS (
          SELECT bucket, COUNT(*) AS n_docs, SUM(n_tokens) AS n_toks
          FROM per GROUP BY bucket),
        tot AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS tot_docs,
                 CAST(SUM(n_tokens) AS DOUBLE) AS tot_toks FROM per),
        grid AS (
          SELECT CAST(k AS BIGINT) AS k,
                 COALESCE(h.n_docs, 0) AS n_docs,
                 COALESCE(h.n_toks, 0) AS n_toks
          FROM (SELECT unnest(range(0, {_SWEEP_STEPS} + 1)) AS k) g
          LEFT JOIN hist h ON h.bucket = g.k),
        cum AS (
          SELECT k,
                 CAST(SUM(n_docs) OVER (ORDER BY k DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS docs_retained,
                 CAST(SUM(n_toks) OVER (ORDER BY k DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS tokens_retained
          FROM grid)
        SELECT CAST(k AS DOUBLE) / {_SWEEP_STEPS} AS threshold,
               docs_retained, tokens_retained,
               ROUND(docs_retained / t.tot_docs, 9) AS doc_frac,
               ROUND(tokens_retained / t.tot_toks, 9) AS token_frac
        FROM cum CROSS JOIN tot t"""


_BLOCK_SUM = " + ".join(
    f"CAST(list_contains(words, '{t}') AS INT)" for t in _BLOCKLIST
)
_MIX_CASE = "CASE " + " ".join(
    f"WHEN source = '{s}' THEN {r}" for s, r in _MIX_RATES.items()
) + f" ELSE {_MIX_DEFAULT} END"

ORACLES = {
    "snk1_curated_export": _SNK1_SQL,
    "tx21_quality_sweep": _TX21_SQL,
    "tx19_dsir_importance": f"""
        WITH d AS (SELECT doc_id, source, {_DUCK_WORDS} AS words
                   FROM documents),
        target AS (SELECT MIN(source) AS target_src FROM documents),
        toks AS (SELECT doc_id, source, unnest(words) AS word FROM d),
        vocab AS (SELECT word, COUNT(*) AS c FROM toks GROUP BY word),
        tvocab AS (
          SELECT word, COUNT(*) AS ct
          FROM toks CROSS JOIN target
          WHERE source = target_src GROUP BY word),
        totals AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM vocab),
        ttotals AS (SELECT SUM(ct) AS nt FROM tvocab),
        scored AS (
          SELECT t.doc_id, t.source,
                 ln(CAST(COALESCE(tv.ct, 0) + 1 AS DOUBLE)
                    / CAST(tt.nt + x.v AS DOUBLE))
                 - ln(CAST(vb.c + 1 AS DOUBLE) / CAST(x.n + x.v AS DOUBLE))
                   AS lr
          FROM toks t
          JOIN vocab vb USING (word)
          LEFT JOIN tvocab tv USING (word)
          CROSS JOIN totals x CROSS JOIN ttotals tt)
        SELECT doc_id, source,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(AVG(lr), 6) + 0.0 AS avg_log_ratio
        FROM scored GROUP BY doc_id, source""",
    "tx18_token_entropy": f"""
        WITH d AS (SELECT doc_id, {_DUCK_WORDS} AS words FROM documents),
        toks AS (SELECT doc_id, unnest(words) AS word FROM d),
        wc AS (SELECT doc_id, word, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        per AS (
          SELECT doc_id,
                 CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(COUNT(*) AS BIGINT) AS n_types,
                 SUM(CAST(ROUND(c * log2(c), 6) AS DECIMAL(18,6))) AS s
          FROM wc GROUP BY doc_id)
        SELECT doc_id, n_tokens, n_types,
               ROUND(log2(n_tokens) - CAST(s AS DOUBLE) / n_tokens, 9)
                 AS entropy_bits
        FROM per""",
    "tx15_pipeline_funnel": f"""
        WITH d AS (
          SELECT doc_id, text, {_DUCK_NORM} AS norm, {_DUCK_WORDS} AS words
          FROM documents),
        flags AS (
          SELECT CAST(len(words) AS BIGINT) AS n_tokens,
                 doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS p_dedup,
                 (len(words) >= 10
                  AND length(regexp_replace(norm, '[a-z0-9 ]', '', 'g'))
                      / CAST(length(norm) AS DOUBLE) <= 0.2
                  AND len(list_distinct(words))
                      / CAST(len(words) AS DOUBLE) >= 0.2) AS p_quality,
                 ({_BLOCK_SUM}) = 0 AS p_policy
          FROM d),
        agg AS (
          SELECT COUNT(*) AS raw_docs,
                 COUNT(*) AS d0,
                 CAST(SUM(CASE WHEN p_dedup THEN 1 ELSE 0 END) AS BIGINT) AS d1,
                 CAST(SUM(CASE WHEN p_dedup AND p_quality THEN 1 ELSE 0 END)
                   AS BIGINT) AS d2,
                 CAST(SUM(CASE WHEN p_dedup AND p_quality AND p_policy
                   THEN 1 ELSE 0 END) AS BIGINT) AS d3,
                 CAST(SUM(n_tokens) AS BIGINT) AS t0,
                 CAST(SUM(CASE WHEN p_dedup THEN n_tokens ELSE 0 END)
                   AS BIGINT) AS t1,
                 CAST(SUM(CASE WHEN p_dedup AND p_quality THEN n_tokens
                   ELSE 0 END) AS BIGINT) AS t2,
                 CAST(SUM(CASE WHEN p_dedup AND p_quality AND p_policy
                   THEN n_tokens ELSE 0 END) AS BIGINT) AS t3
          FROM flags)
        SELECT CAST(1 AS BIGINT) AS stage, 'raw' AS stage_name,
               d0 AS n_docs, t0 AS n_tokens,
               ROUND(d0 / CAST(raw_docs AS DOUBLE), 9) AS pct_docs_of_raw
        FROM agg
        UNION ALL
        SELECT 2, 'exact_dedup', d1, t1,
               ROUND(d1 / CAST(raw_docs AS DOUBLE), 9) FROM agg
        UNION ALL
        SELECT 3, 'quality_gate', d2, t2,
               ROUND(d2 / CAST(raw_docs AS DOUBLE), 9) FROM agg
        UNION ALL
        SELECT 4, 'blocklist_policy', d3, t3,
               ROUND(d3 / CAST(raw_docs AS DOUBLE), 9) FROM agg""",
    "tx14_vocab_coverage": f"""
        WITH toks AS (
          SELECT doc_id, unnest({_DUCK_WORDS}) AS word FROM documents),
        vocab AS (
          SELECT word FROM (
            SELECT word, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word ASC)
                     AS rk
            FROM toks GROUP BY word)
          WHERE rk <= {_VOCAB_SIZE})
        SELECT t.doc_id,
               COUNT(*) AS n_tokens,
               CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_oov,
               ROUND(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
                     / CAST(COUNT(*) AS DOUBLE), 9) AS oov_rate
        FROM toks t LEFT JOIN vocab v ON t.word = v.word
        GROUP BY t.doc_id""",
    "tx13_boilerplate_stats": f"""
        WITH d AS (
          SELECT doc_id, source, {_DUCK_WORDS} AS w FROM documents),
        sh AS (
          SELECT doc_id, source,
                 unnest(list_distinct(list_transform(range(1, len(w)),
                   i -> array_to_string(w[i:i+1], ' ')))) AS gram
          FROM d WHERE len(w) >= 2),
        nd AS (SELECT source, COUNT(*) AS n_docs FROM d
               WHERE len(w) >= 2 GROUP BY source),
        boiler AS (
          SELECT source, gram
          FROM (SELECT source, gram, COUNT(*) AS df FROM sh GROUP BY 1, 2)
          JOIN nd USING (source)
          WHERE df / CAST(n_docs AS DOUBLE) >= {_BOILER_TAU})
        SELECT sh.doc_id, sh.source,
               COUNT(*) AS n_grams,
               CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_boiler,
               ROUND(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                     / CAST(COUNT(*) AS DOUBLE), 9) AS boiler_frac
        FROM sh LEFT JOIN boiler b
          ON sh.source = b.source AND sh.gram = b.gram
        GROUP BY sh.doc_id, sh.source""",
    "tx10_blocklist_policy": f"""
        WITH d AS (
          SELECT source, {_DUCK_WORDS} AS words FROM documents),
        per_doc AS (
          SELECT source,
                 CAST({_BLOCK_SUM} AS BIGINT) AS n_banned
          FROM d)
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN n_banned > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_flagged,
               ROUND(AVG(CASE WHEN n_banned > 0 THEN 1.0 ELSE 0.0 END), 9)
                 AS flag_rate,
               ROUND(AVG(CAST(n_banned AS DOUBLE)), 9) AS avg_banned_terms
        FROM per_doc GROUP BY source""",
    "tx11_repetition_stats": f"""
        WITH d AS (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents),
        toks AS (SELECT doc_id, unnest(w) AS word FROM d),
        wc AS (SELECT doc_id, word, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        ws AS (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
                 COUNT(*) AS n_distinct, MAX(c) AS top_count
          FROM wc GROUP BY doc_id),
        grams AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(w)),
                   i -> array_to_string(w[i:i+1], ' '))) AS gram
          FROM d WHERE len(w) >= 2),
        gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2),
        gs AS (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
                 COUNT(*) AS n_distinct_grams
          FROM gc GROUP BY doc_id)
        SELECT ws.doc_id, ws.n_words, ws.n_distinct, ws.top_count,
               ROUND(1 - ws.n_distinct / CAST(ws.n_words AS DOUBLE), 9)
                 AS dup_word_frac,
               ROUND(ws.top_count / CAST(ws.n_words AS DOUBLE), 9)
                 AS top_word_frac,
               ROUND(COALESCE(
                 1 - gs.n_distinct_grams / CAST(gs.n_grams AS DOUBLE), 0.0), 9)
                 AS dup_2gram_frac,
               (ws.top_count / CAST(ws.n_words AS DOUBLE) <= {_REP_MAX_TOP_FRAC}
                AND 1 - ws.n_distinct / CAST(ws.n_words AS DOUBLE)
                    <= {_REP_MAX_DUP_FRAC}) AS keep
        FROM ws LEFT JOIN gs ON ws.doc_id = gs.doc_id""",
    "tx12_mixture_sample": f"""
        WITH d AS (
          SELECT source, len({_DUCK_WORDS}) AS n_tokens,
                 CAST({_MIX_CASE} AS DOUBLE) AS rate,
                 {_DUCK_H.format(x="'mix:' || CAST(doc_id AS VARCHAR)")}
                   % 10000 AS bucket
          FROM documents),
        tagged AS (
          SELECT source, n_tokens, rate,
                 CASE WHEN bucket < CAST(rate * 10000 AS BIGINT)
                      THEN 1 ELSE 0 END AS kept
          FROM d)
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(kept) AS BIGINT) AS n_kept,
               ROUND(AVG(CAST(kept AS DOUBLE)), 9) AS kept_rate,
               CAST(SUM(n_tokens * kept) AS BIGINT) AS sum_kept_tokens,
               MAX(rate) AS target_rate
        FROM tagged GROUP BY source""",
    "tx9_sequence_packing": f"""
        WITH d AS (
          SELECT doc_id,
                 LEAST(CAST(len({_DUCK_WORDS}) AS BIGINT), {_PACK_BUDGET})
                   AS n_tokens,
                 {_DUCK_H.format(x="CAST(doc_id AS VARCHAR)")} % {_PACK_SHARDS}
                   AS shard
          FROM documents),
        packed AS (
          SELECT shard, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY shard
                   ORDER BY n_tokens DESC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM d)
        SELECT shard,
               CAST(GREATEST(cum - 1, 0) // {_PACK_BUDGET} AS BIGINT) AS bin,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               MIN(n_tokens) AS min_tokens,
               MAX(n_tokens) AS max_tokens
        FROM packed GROUP BY 1, 2""",
    "tx8_benchmark_contamination": f"""
        WITH docs_w AS (
          SELECT doc_id, {_DUCK_WORDS} AS w FROM documents),
        shingles AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))))
                 AS shingle
          FROM docs_w WHERE len(w) >= 3),
        sh AS (
          SELECT doc_id, shingle,
                 {_DUCK_H.format(x="CAST(doc_id AS VARCHAR)")} % 100 AS bucket
          FROM shingles),
        test_set AS (SELECT DISTINCT shingle FROM sh WHERE bucket >= 90)
        SELECT s.doc_id,
               COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_contaminated,
               ROUND(SUM(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END)
                     / CAST(COUNT(*) AS DOUBLE), 9) AS contamination,
               (SUM(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END)
                / CAST(COUNT(*) AS DOUBLE)) >= {_CONTAM_TAU} AS flagged
        FROM sh s LEFT JOIN test_set t ON s.shingle = t.shingle
        WHERE s.bucket < 80
        GROUP BY s.doc_id""",
    "tx7_tfidf_top_terms": f"""
        WITH toks AS (
          SELECT doc_id, unnest({_DUCK_WORDS}) AS term FROM documents),
        tf AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
        dfreq AS (
          SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        total AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                 ROUND(CAST(tf.tf AS DOUBLE)
                       * ln(CAST(t.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE)),
                       6) AS score
          FROM tf JOIN dfreq USING (term) CROSS JOIN total t),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term ASC) AS rank
          FROM scored)
        SELECT doc_id, term, tf, df, score, rank
        FROM ranked WHERE rank <= {_TFIDF_K}""",
    "tx1_token_stats": f"""
        WITH d AS (SELECT doc_id, {_DUCK_NORM} AS norm, {_DUCK_WORDS} AS words FROM documents)
        SELECT doc_id,
               length(norm) AS n_chars,
               len(words) AS n_tokens,
               len(list_distinct(words)) AS n_distinct_tokens,
               len(regexp_extract_all(norm, '{_BPE_PAT}')) AS n_bpe_tokens,
               CAST(length(replace(norm, ' ', '')) AS DOUBLE)
                 / CAST(len(words) AS DOUBLE) AS mean_token_len
        FROM d""",
    "tx2_quality_score": f"""
        WITH d AS (SELECT doc_id, {_DUCK_NORM} AS norm, {_DUCK_WORDS} AS words FROM documents),
        s AS (
          SELECT doc_id,
                 length(norm) AS n_chars,
                 len(words) AS n_tokens,
                 CAST(length(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                   / CAST(length(norm) AS DOUBLE) AS punct_ratio,
                 CAST(len(list_filter(words, w -> list_contains([{_STOP_LIST}], w))) AS DOUBLE)
                   / CAST(len(words) AS DOUBLE) AS stopword_ratio,
                 CAST(len(list_distinct(words)) AS DOUBLE)
                   / CAST(len(words) AS DOUBLE) AS type_token_ratio
          FROM d)
        SELECT *,
               (n_tokens >= 10 AND punct_ratio <= 0.2 AND type_token_ratio >= 0.2) AS keep
        FROM s""",
    "tx3_language_id": f"""
        WITH d AS (SELECT doc_id, lang, {_DUCK_WORDS} AS words FROM documents),
        toks AS (SELECT doc_id, lang, unnest(words) AS word FROM d),
        profile(pred_lang, word) AS (VALUES {_PROFILE_VALUES}),
        hits AS (
          SELECT doc_id, pred_lang, COUNT(*) AS hits
          FROM toks JOIN profile USING (word)
          GROUP BY doc_id, pred_lang),
        langs(pred_lang) AS (VALUES {_LANG_VALUES}),
        filled AS (
          SELECT d.doc_id, d.lang, langs.pred_lang, COALESCE(hits.hits, 0) AS hits
          FROM (SELECT DISTINCT doc_id, lang FROM d) d
          CROSS JOIN langs
          LEFT JOIN hits ON hits.doc_id = d.doc_id AND hits.pred_lang = langs.pred_lang),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY hits DESC, pred_lang ASC) AS rn
          FROM filled)
        SELECT doc_id, lang, pred_lang, hits FROM ranked WHERE rn = 1""",
    "tx4_winnow_fingerprints": f"""
        WITH d AS (SELECT doc_id, {_DUCK_WORDS} AS words FROM documents),
        g AS (
          SELECT doc_id,
                 list_transform(range(1, len(words) - {_K - 2}),
                   i -> {_DUCK_H.format(x=f"array_to_string(words[i:i+{_K - 1}], ' ')")}) AS h
          FROM d WHERE len(words) >= {_K + _W - 1})
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(h) - {_W - 2}),
                 i -> list_min(h[i:i+{_W - 1}])))) AS fingerprint
        FROM g""",
    "tx5_stratified_split": f"""
        WITH d AS (
          SELECT lang, len({_DUCK_WORDS}) AS n_tokens,
                 length({_DUCK_NORM}) AS n_chars,
                 {_DUCK_H.format(x="CAST(doc_id AS VARCHAR)")} % 100 AS bucket
          FROM documents)
        SELECT lang,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
               ROUND(AVG(CAST(n_chars AS DOUBLE)), 9) AS avg_chars
        FROM d GROUP BY 1, 2""",
    "tx34_split_packing_leakage": f"""
        WITH d AS (
          SELECT doc_id,
                 LEAST(CAST(len({_DUCK_WORDS}) AS BIGINT), {_PACK_BUDGET})
                   AS n_tokens,
                 {_DUCK_H.format(x="CAST(doc_id AS VARCHAR)")} % {_PACK_SHARDS}
                   AS shard,
                 CASE WHEN {_DUCK_H.format(x="CAST(doc_id AS VARCHAR)")} % 100 < 80
                        THEN 'train'
                      WHEN {_DUCK_H.format(x="CAST(doc_id AS VARCHAR)")} % 100 < 90
                        THEN 'val' ELSE 'test' END AS split
          FROM documents),
        packed AS (
          SELECT shard, n_tokens, split,
                 SUM(n_tokens) OVER (PARTITION BY shard
                   ORDER BY n_tokens DESC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM d),
        bins AS (
          SELECT shard,
                 CAST(GREATEST(cum - 1, 0) // {_PACK_BUDGET} AS BIGINT) AS bin,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS toks,
                 CAST(SUM(CASE WHEN split <> 'train' THEN n_tokens ELSE 0 END)
                      AS BIGINT) AS etoks,
                 array_to_string(list_sort(list(DISTINCT split)), '+')
                   AS composition
          FROM packed GROUP BY 1, 2)
        SELECT composition,
               CAST(COUNT(*) AS BIGINT) AS n_bins,
               CAST(SUM(n_docs) AS BIGINT) AS n_docs,
               CAST(SUM(toks) AS BIGINT) AS total_tokens,
               CAST(SUM(etoks) AS BIGINT) AS eval_tokens
        FROM bins GROUP BY 1""",
    "tx6_unigram_logprob": f"""
        WITH d AS (SELECT doc_id, {_DUCK_WORDS} AS words FROM documents),
        toks AS (SELECT doc_id, unnest(words) AS word FROM d),
        vocab AS (SELECT word, COUNT(*) AS c FROM toks GROUP BY word),
        tot AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM vocab)
        SELECT doc_id, COUNT(*) AS n_tokens,
               ROUND(AVG(ln(CAST(c + 1 AS DOUBLE) / CAST(n + v AS DOUBLE))), 6)
                 AS avg_logprob
        FROM toks JOIN vocab USING (word), tot
        GROUP BY doc_id""",
    "tx17_zipf_spectrum": f"""
        WITH d AS (SELECT doc_id, {_DUCK_WORDS} AS words FROM documents),
        toks AS (SELECT unnest(words) AS word FROM d),
        vocab AS (SELECT word, COUNT(*) AS c FROM toks GROUP BY word),
        tot AS (SELECT SUM(c) AS n_tokens FROM vocab)
        SELECT c AS freq, COUNT(*) AS n_terms,
               ROUND(CAST(c * COUNT(*) AS DOUBLE)
                     / CAST(MAX(n_tokens) AS DOUBLE), 9) AS token_share
        FROM vocab, tot GROUP BY c, n_tokens""",
    "tx16_bigram_logprob": f"""
        WITH d AS (SELECT doc_id, {_DUCK_WORDS} AS words FROM documents),
        bi AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(words)),
                   i -> words[i] || ' ' || words[i+1])) AS bg
          FROM d WHERE len(words) >= 2),
        c2 AS (SELECT bg, COUNT(*) AS c2 FROM bi GROUP BY bg),
        c1 AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(c2) AS c1
               FROM c2 GROUP BY 1),
        v AS (SELECT COUNT(DISTINCT split_part(bg, ' ', 2)) AS v FROM bi)
        SELECT doc_id, COUNT(*) AS n_bigrams,
               ROUND(AVG(ln(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE))), 6)
                 AS avg_logprob
        FROM bi
        JOIN c2 USING (bg)
        JOIN c1 ON split_part(bg, ' ', 1) = c1.w1, v
        GROUP BY doc_id""",
}


_VG_B = 10  # vocabulary-growth checkpoints (corpus-prefix buckets)


def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx24 — HEAPS'-LAW VOCABULARY GROWTH: distinct-type count as a
    function of corpus size, sampled at ``_VG_B`` corpus-prefix
    checkpoints — the curve a corpus builder reads to decide whether
    more data still buys vocabulary (and to size the tokenizer's merge
    table). The naive computation (distinct over every prefix) rescans
    the corpus B times; this one is a single pass: each word's FIRST
    checkpoint bucket (one min per distinct word) converts cumulative
    distinct counting into a B-row prefix sum.

    Exactness: bucket assignment is portable integer floor-division over
    the (min, max) doc_id span; all counts integer; the Heaps exponent
    ln(cum_types)/ln(cum_tokens) is the only float, rounded to 6.

    Scale: one explode + one vocabulary-keyed groupBy(word) — the same
    shuffle shape as tx6/tx17 — then ``_VG_B``-row rollups; the final
    window runs over B rows, never data-sized. The doc_id bounds are a
    one-row broadcast."""
    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    bounds = docs.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    b = docs.crossJoin(F.broadcast(bounds)).select(
        "words",
        F.expr(IDIV(f"(doc_id - lo) * {_VG_B}", "hi - lo + 1")).alias("bucket"),
    )
    toks = b.select("bucket", F.explode("words").alias("word"))
    tokens = toks.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_tokens")
    )
    docs_per = b.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    first_seen = toks.groupBy("word").agg(F.min("bucket").alias("bucket"))
    news = first_seen.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("new_types")
    )
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        docs_per.join(tokens, "bucket")
        .join(news, "bucket", "left")
        .fillna(0, ["new_types"])
        .withColumn("cum_tokens", F.sum("n_tokens").over(wcum).cast("bigint"))
        .withColumn("cum_types", F.sum("new_types").over(wcum).cast("bigint"))
        .withColumn(
            # guarded: at cum_tokens=1 Spark's non-ANSI 0/0 is NULL but
            # DuckDB's IEEE 0/0 is NaN — pin the degenerate point to NULL
            "heaps_beta",
            F.when(
                F.col("cum_tokens") > 1,
                F.round(F.log("cum_types") / F.log("cum_tokens"), 6),
            ),
        )
        .select(
            "bucket", "n_docs", "n_tokens", "new_types",
            "cum_tokens", "cum_types", "heaps_beta",
        )
    )


_N_SHARDS = 64  # manifest shards; a 100 TB run would use ~100k
_CKSUM_MOD = 1_000_000_007  # keeps the order-proof checksum sum << 2^63


def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx25 — DETERMINISTIC TRAINING-SHARD MANIFEST: the global-shuffle
    step of a training-data serve. Each doc lands in shard
    md5_60(doc_id) % ``_N_SHARDS`` — a deterministic pseudo-random
    permutation, so (a) re-runs produce byte-identical shards and (b)
    every shard is an unbiased corpus sample (no source/time locality).
    Per shard the manifest carries the counts a trainer schedules by
    (docs, tokens, bytes, sources, doc_id span) plus an order-proof
    checksum (sum of per-doc hashes mod ``_CKSUM_MOD``) the reader
    re-computes after loading to verify shard integrity.

    Exactness: every column is integer arithmetic on the shared 60-bit
    md5 hash — hash-stable across engines, insensitive to partial-agg
    order.

    Scale: exactly one groupBy(shard) shuffle; the hash key is uniform
    so shards are balanced by construction (no skew, no salting
    needed). At 100 TB raise ``_N_SHARDS`` so a shard fits an executor
    write task; nothing else changes."""
    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    h = F.expr(_SPARK_H.format(x="CAST(doc_id AS STRING)"))
    d = docs.select(
        "doc_id",
        "source",
        F.size("words").cast("bigint").alias("n_tokens"),
        F.length("norm").cast("bigint").alias("n_bytes"),
        h.alias("h"),
    ).withColumn("shard", (F.col("h") % _N_SHARDS).cast("bigint"))
    return (
        d.groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_bytes").cast("bigint").alias("n_bytes"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
            F.sum(F.col("h") % _CKSUM_MOD).cast("bigint").alias("checksum"),
        )
    )


def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx26 — SOURCE-PAIR VOCABULARY OVERLAP MATRIX: exact token-set
    Jaccard between every pair of sources — the corpus-composition read
    (which sources are redundant, which bring novel vocabulary) that
    sits one level above tx20's per-doc novelty and complements dd17's
    doc-level tier comparison with a source-level view.

    Exactness: set sizes and intersections are integers; Jaccard is one
    final division rounded to 9.

    Scale: the corpus-sized work is a single distinct (source, token)
    projection; the intersection self-join is keyed on token and each
    token contributes at most n_sources^2 rows — the join output is
    bounded by vocabulary x sources^2, independent of document count.
    The full pair grid (sources^2 rows) is broadcast-built so
    zero-overlap pairs still appear."""
    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    sv = docs.select("source", F.explode("words").alias("word")).distinct()
    sizes = sv.groupBy("source").agg(
        F.count("*").cast("bigint").alias("vsz")
    )
    inter = (
        sv.select(F.col("source").alias("source_a"), "word")
        .join(sv.select(F.col("source").alias("source_b"), "word"), "word")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    pairs = (
        F.broadcast(
            sizes.select(
                F.col("source").alias("source_a"), F.col("vsz").alias("va")
            )
        )
        .crossJoin(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_b"),
                    F.col("vsz").alias("vb"),
                )
            )
        )
        .filter(F.col("source_a") < F.col("source_b"))
    )
    return (
        pairs.join(inter, ["source_a", "source_b"], "left")
        .fillna(0, ["n_common"])
        .select(
            "source_a",
            "source_b",
            "va",
            "vb",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("va") + F.col("vb") - F.col("n_common")).cast(
                    "double"
                ),
                9,
            ).alias("jaccard"),
        )
    )


ORACLES["tx26_source_overlap"] = f"""
        WITH d AS (SELECT source, {_DUCK_WORDS} AS words FROM documents),
        sv AS (SELECT DISTINCT source, unnest(words) AS word FROM d),
        sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS vsz
                  FROM sv GROUP BY source),
        inter AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 CAST(COUNT(*) AS BIGINT) AS n_common
          FROM sv a JOIN sv b ON a.word = b.word AND a.source < b.source
          GROUP BY a.source, b.source),
        pairs AS (
          SELECT a.source AS source_a, a.vsz AS va,
                 b.source AS source_b, b.vsz AS vb
          FROM sizes a CROSS JOIN sizes b
          WHERE a.source < b.source)
        SELECT p.source_a, p.source_b, p.va, p.vb,
               COALESCE(i.n_common, 0) AS n_common,
               ROUND(COALESCE(i.n_common, 0)
                     / CAST(p.va + p.vb - COALESCE(i.n_common, 0)
                            AS DOUBLE), 9) AS jaccard
        FROM pairs p
        LEFT JOIN inter i
          ON i.source_a = p.source_a AND i.source_b = p.source_b"""

def source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx27 — SOURCE-DIVERGENCE REPORT: per source, the KL divergence of
    its unigram token distribution from the whole-corpus distribution —
    the frequency-weighted complement to tx26's set-overlap matrix
    (two sources can share every token yet weigh them very differently)
    and the quantitative form of the "is this source statistically
    representative" check a mixture designer (tx12/tx19) starts from.
    No smoothing is needed: every source token is corpus-present
    (p_corpus > 0), and absent tokens contribute exactly 0.

    Exactness: both engines evaluate the identical per-word expression
    tree (double ratios, one ln, rounded to 9) and sum the rounded
    terms as DECIMAL(20,9) — exact under any partial-agg order; the
    final value is one cast.

    Scale: one explode + one (source, word) grouped count (the same
    vocabulary-keyed shuffle as tx6/tx17/tx24), a word-keyed corpus
    rollup joined back on word, then a source-cardinality agg."""
    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    toks = docs.select("source", F.explode("words").alias("word"))
    sw = toks.groupBy("source", "word").agg(
        F.count("*").cast("bigint").alias("cs")
    )
    cw = sw.groupBy("word").agg(F.sum("cs").cast("bigint").alias("cc"))
    st = sw.groupBy("source").agg(F.sum("cs").cast("bigint").alias("ts"))
    tot = cw.agg(F.sum("cc").cast("bigint").alias("tc"))
    terms = (
        sw.join(cw, "word")
        .join(F.broadcast(st), "source")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "term",
            F.expr(
                "CAST(round((CAST(cs AS DOUBLE) / ts)"
                " * ln((CAST(cs AS DOUBLE) / ts)"
                " / (CAST(cc AS DOUBLE) / tc)), 9) AS DECIMAL(20,9))"
            ),
        )
    )
    return terms.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_distinct"),
        F.max("ts").alias("n_tokens"),
        F.sum("term").cast("double").alias("kl_divergence"),
    )


def shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """snk4 — tx25's shard plan MATERIALIZED: the corpus physically
    written as parquet partitioned by the deterministic shard id (one
    file per shard via the snk1 repartition contract, doc_id-sorted for
    reproducible bytes), then read BACK and re-checksummed — the output
    row IS the integrity verification a trainer's loader performs
    before trusting a shard. A checksum mismatch between this manifest
    and tx25's plan-side manifest means the write path corrupted or
    dropped rows; the oracle pins both to the same arithmetic.

    Scale: identical write shape to snk1/snk2 — one repartition keyed
    by the uniform shard hash (balanced by construction), one
    partitioned write, one read-back aggregation. At 100 TB raise
    ``_N_SHARDS`` and add ``maxRecordsPerFile``; the n_files column
    then reports the per-shard file count instead of asserting 1."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.expr(_SPARK_H.format(x="CAST(doc_id AS STRING)"))
    d = docs.select("doc_id", "text", "source").withColumn(
        "shard", (h % _N_SHARDS).cast("bigint")
    )
    out = cache_dir("export", sf_dir, "shards")
    (
        # explicit numPartitions (see snk6): keep the writer parallel
        d.repartition(spark.sparkContext.defaultParallelism, "shard")
        .sortWithinPartitions("shard", "doc_id")
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).withColumn("f", F.input_file_name())
    return (
        back.withColumn("h", F.expr(_SPARK_H.format(x="CAST(doc_id AS STRING)")))
        .groupBy(F.col("shard").cast("bigint").alias("shard"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("f").cast("bigint").alias("n_files"),
            F.sum(F.col("h") % _CKSUM_MOD).cast("bigint").alias("checksum"),
        )
    )


ORACLES["snk4_shard_export"] = f"""
        WITH d AS (
          SELECT doc_id,
                 {_DUCK_H.format(x='CAST(doc_id AS VARCHAR)')} AS h
          FROM documents)
        SELECT CAST(h % {_N_SHARDS} AS BIGINT) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(1 AS BIGINT) AS n_files,
               CAST(SUM(h % {_CKSUM_MOD}) AS BIGINT) AS checksum
        FROM d GROUP BY CAST(h % {_N_SHARDS} AS BIGINT)"""


_BPE_TOP = 30  # merge candidates reported (rank by count desc, pair asc)


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx28 — BPE MERGE CANDIDATES: the corpus-wide adjacent
    character-pair counts over the token stream — the statistic the
    first round of byte-pair-encoding tokenizer induction maximizes
    (Sennrich et al. 2016's merge step), reported as the top
    ``_BPE_TOP`` candidates with deterministic (count DESC, pair ASC)
    ranking. Re-running after applying a merge gives round two; this op
    is the reusable kernel of that loop and the vocabulary-design
    companion to tx24's growth curve.

    Exactness: pure integer pair counts; share is one final division
    rounded to 9; the rank tie-break is total (pair strings are
    unique).

    Scale: pair extraction is a per-word array transform fused into the
    scan (no shuffle); the count is one pair-keyed aggregation —
    pair-key cardinality is bounded by alphabet^2, so the final top-K
    sort is tiny (TakeOrderedAndProject, never a global data sort)."""
    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    # sequence(1, 0) would count DOWN in Spark, so short words guard to
    # [1] and the length-2 filter drops their degenerate output
    pairs = docs.select(
        F.explode(
            F.expr(
                "flatten(transform(words, w ->"
                " transform(sequence(1, greatest(length(w) - 1, 1)),"
                " i -> substring(w, i, 2))))"
            )
        ).alias("pair")
    ).filter(F.length("pair") == 2)
    tot = pairs.agg(F.count("*").cast("bigint").alias("n_total"))
    counts = pairs.groupBy("pair").agg(
        F.count("*").cast("bigint").alias("n_occurrences")
    )
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("pair"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _BPE_TOP)
        .crossJoin(F.broadcast(tot))
        .select(
            "rank",
            "pair",
            "n_occurrences",
            F.round(
                F.col("n_occurrences") / F.col("n_total").cast("double"), 9
            ).alias("pair_share"),
        )
    )


ORACLES["tx28_bpe_merge_candidates"] = f"""
        WITH d AS (SELECT {_DUCK_WORDS} AS words FROM documents),
        pairs AS (
          SELECT pair FROM (
            SELECT unnest(flatten(list_transform(words, w ->
                     list_transform(range(1, greatest(length(w), 1)),
                                    i -> substr(w, i, 2))))) AS pair
            FROM d)
          WHERE length(pair) = 2),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM pairs),
        counts AS (
          SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_occurrences
          FROM pairs GROUP BY pair),
        ranked AS (
          SELECT pair, n_occurrences,
                 CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC,
                                                  pair ASC) AS BIGINT)
                   AS rank
          FROM counts)
        SELECT rank, pair, n_occurrences,
               ROUND(n_occurrences / CAST(t.n_total AS DOUBLE), 9)
                 AS pair_share
        FROM ranked CROSS JOIN tot t
        WHERE rank <= {_BPE_TOP}"""


ORACLES["tx27_source_divergence"] = f"""
        WITH d AS (SELECT source, {_DUCK_WORDS} AS words FROM documents),
        toks AS (SELECT source, unnest(words) AS word FROM d),
        sw AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cs
               FROM toks GROUP BY source, word),
        cw AS (SELECT word, CAST(SUM(cs) AS BIGINT) AS cc
               FROM sw GROUP BY word),
        st AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ts
               FROM sw GROUP BY source),
        tot AS (SELECT CAST(SUM(cc) AS BIGINT) AS tc FROM cw),
        terms AS (
          SELECT sw.source, st.ts,
                 CAST(round((CAST(cs AS DOUBLE) / ts)
                      * ln((CAST(cs AS DOUBLE) / ts)
                           / (CAST(cc AS DOUBLE) / tc)), 9)
                   AS DECIMAL(20,9)) AS term
          FROM sw
          JOIN cw ON sw.word = cw.word
          JOIN st ON sw.source = st.source
          CROSS JOIN tot)
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               MAX(ts) AS n_tokens,
               CAST(SUM(term) AS DOUBLE) AS kl_divergence
        FROM terms GROUP BY source"""


ORACLES["tx24_vocab_growth"] = f"""
        WITH d AS (SELECT doc_id, {_DUCK_WORDS} AS words FROM documents),
        bounds AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi
                   FROM documents),
        b AS (SELECT {IDIV(f'(doc_id - lo) * {_VG_B}', 'hi - lo + 1')}
                       AS bucket,
                     words
              FROM d, bounds),
        toks AS (SELECT bucket, unnest(words) AS word FROM b),
        tokens AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens
                   FROM toks GROUP BY bucket),
        docs_per AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs
                     FROM b GROUP BY bucket),
        fw AS (SELECT word, MIN(bucket) AS bucket FROM toks GROUP BY word),
        news AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_types
                 FROM fw GROUP BY bucket),
        joined AS (
          SELECT dp.bucket, dp.n_docs, t.n_tokens,
                 COALESCE(n.new_types, 0) AS new_types
          FROM docs_per dp
          JOIN tokens t ON dp.bucket = t.bucket
          LEFT JOIN news n ON dp.bucket = n.bucket),
        cum AS (
          SELECT bucket, n_docs, n_tokens,
                 CAST(new_types AS BIGINT) AS new_types,
                 CAST(SUM(n_tokens) OVER (ORDER BY bucket) AS BIGINT)
                   AS cum_tokens,
                 CAST(SUM(new_types) OVER (ORDER BY bucket) AS BIGINT)
                   AS cum_types
          FROM joined)
        SELECT bucket, n_docs, n_tokens, new_types, cum_tokens, cum_types,
               CASE WHEN cum_tokens > 1
                    THEN ROUND(ln(CAST(cum_types AS DOUBLE))
                               / ln(CAST(cum_tokens AS DOUBLE)), 6)
               END AS heaps_beta
        FROM cum"""

ORACLES["tx25_shard_manifest"] = f"""
        WITH d AS (
          SELECT doc_id, source,
                 CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_tokens,
                 CAST(length({_DUCK_NORM}) AS BIGINT) AS n_bytes,
                 {_DUCK_H.format(x='CAST(doc_id AS VARCHAR)')} AS h
          FROM documents),
        s AS (SELECT *, CAST(h % {_N_SHARDS} AS BIGINT) AS shard FROM d)
        SELECT shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(n_bytes) AS BIGINT) AS n_bytes,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
               CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
               CAST(SUM(h % {_CKSUM_MOD}) AS BIGINT) AS checksum
        FROM s GROUP BY shard"""


SPARK_QUERIES = {
    "snk1_curated_export": curated_export,
    "snk2_incremental_export": incremental_export,
    "tx21_quality_sweep": quality_sweep,
    "tx1_token_stats": token_stats,
    "tx7_tfidf_top_terms": tfidf_top_terms,
    "tx2_quality_score": quality_score,
    "tx3_language_id": language_id,
    "tx4_winnow_fingerprints": winnow_fingerprints,
    "tx5_stratified_split": stratified_split,
    "tx6_unigram_logprob": unigram_logprob,
    "tx16_bigram_logprob": bigram_logprob,
    "tx17_zipf_spectrum": zipf_spectrum,
    "tx18_token_entropy": token_entropy,
    "tx19_dsir_importance": dsir_importance,
    "tx8_benchmark_contamination": benchmark_contamination,
    "tx9_sequence_packing": sequence_packing,
    "tx34_split_packing_leakage": split_packing_leakage,
    "tx10_blocklist_policy": blocklist_policy,
    "tx11_repetition_stats": repetition_stats,
    "tx12_mixture_sample": mixture_sample,
    "tx13_boilerplate_stats": boilerplate_stats,
    "tx14_vocab_coverage": vocab_coverage,
    "tx15_pipeline_funnel": pipeline_funnel,
    "tx22_perplexity_buckets": perplexity_buckets,
    "tx24_vocab_growth": vocab_growth,
    "tx25_shard_manifest": shard_manifest,
    "tx26_source_overlap": source_overlap,
    "tx27_source_divergence": source_divergence,
    "snk4_shard_export": shard_export,
    "tx28_bpe_merge_candidates": bpe_merge_candidates,
}

# tx22's oracle nests tx6's scoring CTE: NTILE on the rounded score with
# a doc_id tie-break is exact in both engines.
ORACLES["tx22_perplexity_buckets"] = f"""
        WITH d AS (SELECT doc_id, {_DUCK_WORDS} AS words FROM documents),
        toks AS (SELECT doc_id, unnest(words) AS word FROM d),
        vocab AS (SELECT word, COUNT(*) AS c FROM toks GROUP BY word),
        tot AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM vocab),
        scored AS (
          SELECT doc_id, COUNT(*) AS n_tokens,
                 ROUND(AVG(ln(CAST(c + 1 AS DOUBLE) / CAST(n + v AS DOUBLE))), 6)
                   AS avg_logprob
          FROM toks JOIN vocab USING (word), tot
          GROUP BY doc_id),
        bucketed AS (
          SELECT s.*, doc.source,
                 CAST(NTILE(10) OVER (ORDER BY s.avg_logprob, s.doc_id)
                      AS BIGINT) AS bucket
          FROM scored s JOIN documents doc USING (doc_id))
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               MIN(avg_logprob) AS min_logprob,
               MAX(avg_logprob) AS max_logprob,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        FROM bucketed GROUP BY bucket"""

# Registered AFTER the dicts exist: _snk2_oracle() imports .dedup, whose
# own oracle build reads THIS module's ORACLES — appending post-definition
# breaks the otherwise-circular import.
ORACLES["snk2_incremental_export"] = _snk2_oracle()



# temperature exponents for the mixture recipe, expressed in permille and
# realized ONLY through sqrt compositions (IEEE-correctly-rounded in both
# engines, unlike libm pow): 250 = sqrt(sqrt(x)), 500 = sqrt(x),
# 750 = sqrt(x)*sqrt(sqrt(x)), 1000 = x.
_TX30_ALPHAS = (
    (250, "SQRT(SQRT({x}))"),
    (500, "SQRT({x})"),
    (750, "SQRT({x}) * SQRT(SQRT({x}))"),
    (1000, "{x}"),
)


def mixture_temperature_recipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx30 — TEMPERATURE-SCALED MIXTURE RECIPE: per (source, alpha), the
    sampling weight w_s proportional to tokens_s^alpha and the resulting
    token draw + epoch count under a fixed budget (half the corpus) —
    the domain-weighting table (alpha < 1 upweights small sources)
    pre-training corpus construction starts from; tx12 then *applies*
    such weights as sampling rates. Alpha sweeps 0.25 / 0.5 / 0.75 / 1.

    Exactness end to end (the a25 lesson): tokens^alpha is built ONLY
    from SQRT / multiply / divide (all IEEE-correctly-rounded, so
    bit-identical cross-engine — libm POW is not), quantized ONCE to
    integer parts-per-billion of the per-alpha maximum
    (``pow_rel_ppb = FLOOR(n^alpha / max_n^alpha * 1e9)``); every
    published ratio is integer floor-division — no float column, no
    ROUND, no float sum whose order could differ. Normalizing to the
    per-alpha max (ADVICE r8) keeps every IDIV numerator exact:
    ``pow_rel_ppb * 1e6 <= 1e15 < 2^53`` regardless of corpus size
    (the old micro-unit form overflowed BIGINT at ~9.2M tokens/source
    and left the exact-double envelope at ~9k). The draw/epoch ratios
    are decomposed as ``floor(a*M/b) = (a/b)*M + floor((a%b)*M/b)`` so
    their numerators stay exact for any corpus under ~9e15 total
    tokens and any source under ~9e9 tokens — 100 TB-safe.

    Scale: one grouped aggregate over documents (source cardinality is
    tiny); the alpha sweep is a constant-width explode of that
    aggregate; the normalizing max/sums are a broadcast 1-row total and
    window totals over a handful of rows."""
    from ..corpus.corpus_sql import IDIV  # noqa: PLC0415

    docs = _with_norm(load_table(spark, sf_dir, "documents"))
    per_src = docs.groupBy("source").agg(
        F.sum(F.size("words")).cast("bigint").alias("n_tokens")
    )
    max_tok = per_src.agg(F.max("n_tokens").alias("max_tokens"))
    swept = per_src.crossJoin(F.broadcast(max_tok)).select(
        "source",
        "n_tokens",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).cast("bigint").alias("alpha_permille"),
                        F.floor(
                            F.expr(expr.format(x="CAST(n_tokens AS DOUBLE)"))
                            / F.expr(expr.format(x="CAST(max_tokens AS DOUBLE)"))
                            * 1e9
                        ).cast("bigint").alias("pow_rel_ppb"),
                    )
                    for a, expr in _TX30_ALPHAS
                ]
            )
        ).alias("e"),
    ).select("source", "n_tokens", "e.alpha_permille", "e.pow_rel_ppb")
    wtot = Window.partitionBy("alpha_permille")
    w_ppm = IDIV("pow_rel_ppb * 1000000", "sum_pow")
    budget = IDIV("total_tokens", 2)
    # floor(budget * w / 1e6) decomposed exactly: q*w + floor(r*w/1e6)
    draw = (
        f"{IDIV(budget, 1000000)} * ({w_ppm})"
        f" + {IDIV(f'(({budget}) % 1000000) * ({w_ppm})', 1000000)}"
    )
    return (
        swept.withColumn("sum_pow", F.sum("pow_rel_ppb").over(wtot))
        .withColumn("total_tokens", F.sum("n_tokens").over(wtot))
        .select(
            "source",
            "alpha_permille",
            "n_tokens",
            "pow_rel_ppb",
            F.expr(w_ppm).alias("weight_ppm"),
            F.expr(budget).alias("budget_tokens"),
            F.expr(draw).alias("draw_tokens"),
        )
        .withColumn(
            # floor(draw * 1e6 / n) decomposed the same way
            "epochs_ppm",
            F.expr(
                f"{IDIV('draw_tokens', 'n_tokens')} * 1000000"
                f" + {IDIV('(draw_tokens % n_tokens) * 1000000', 'n_tokens')}"
            ),
        )
    )


def _tx30_oracle() -> str:
    from ..corpus.corpus_sql import IDIV  # noqa: PLC0415

    arms = "\n          UNION ALL\n".join(
        f"          SELECT source, n_tokens, CAST({a} AS BIGINT) AS alpha_permille,"
        f" CAST(FLOOR(({expr.format(x='CAST(n_tokens AS DOUBLE)')})"
        f" / ({expr.format(x='CAST(max_tokens AS DOUBLE)')}) * 1e9) AS BIGINT)"
        f" AS pow_rel_ppb FROM per_src CROSS JOIN mx"
        for a, expr in _TX30_ALPHAS
    )
    w_ppm = IDIV("pow_rel_ppb * 1000000", "sum_pow")
    budget = IDIV("total_tokens", 2)
    draw = (
        f"{IDIV(budget, 1000000)} * ({w_ppm})"
        f" + {IDIV(f'(({budget}) % 1000000) * ({w_ppm})', 1000000)}"
    )
    return f"""
        WITH per_src AS (
          SELECT source, CAST(SUM(len({_DUCK_WORDS})) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source),
        mx AS (SELECT MAX(n_tokens) AS max_tokens FROM per_src),
        swept AS (
{arms}
        ),
        tot AS (
          SELECT *,
                 SUM(pow_rel_ppb) OVER (PARTITION BY alpha_permille) AS sum_pow,
                 SUM(n_tokens) OVER (PARTITION BY alpha_permille) AS total_tokens
          FROM swept),
        pub AS (
          SELECT source, alpha_permille, n_tokens, pow_rel_ppb,
                 {w_ppm} AS weight_ppm,
                 {budget} AS budget_tokens,
                 {draw} AS draw_tokens
          FROM tot)
        SELECT *,
               {IDIV('draw_tokens', 'n_tokens')} * 1000000
                 + {IDIV('(draw_tokens % n_tokens) * 1000000', 'n_tokens')}
                 AS epochs_ppm
        FROM pub"""


ORACLES["tx30_mixture_temperature_recipe"] = _tx30_oracle()
SPARK_QUERIES["tx30_mixture_temperature_recipe"] = mixture_temperature_recipe


def jsonl_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """snk5 — JSONL EXPORT round-trip: the corpus written as
    shard-partitioned JSON Lines — the interchange format LLM training
    stacks actually exchange (one JSON object per line) — then read
    BACK with an explicit schema (never inference: inferred types are a
    reader-dependent hazard) and re-checksummed per shard. The output
    row is the loader-side integrity manifest, exactly snk4's contract
    on the text-format leg: a checksum mismatch vs tx25's plan-side
    manifest means the write path corrupted, dropped, or re-encoded
    rows.

    Scale: identical write shape to snk4 (one repartition on the
    uniform shard hash, one partitioned write, one read-back
    aggregation); JSONL trades parquet's compression for append-ability
    and universal readability — the usual interchange choice at the
    pipeline boundary. Escaping survives the round-trip because Spark's
    JSON writer/reader are inverse by construction; the checksum is
    computed from the READ-BACK rows, so any lossy encoding would
    surface as a hash mismatch."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.expr(_SPARK_H.format(x="CAST(doc_id AS STRING)"))
    d = docs.select("doc_id", "text", "source").withColumn(
        "shard", (h % _N_SHARDS).cast("bigint")
    )
    out = cache_dir("export", sf_dir, "jsonl")
    (
        # explicit numPartitions (see snk6): keep the writer parallel
        d.repartition(spark.sparkContext.defaultParallelism, "shard")
        .sortWithinPartitions("shard", "doc_id")
        .write.partitionBy("shard")
        .mode("overwrite")
        .json(out)
    )
    back = spark.read.schema("doc_id BIGINT, text STRING, source STRING, shard BIGINT").json(
        out
    )
    return (
        back.withColumn("h", F.expr(_SPARK_H.format(x="CAST(doc_id AS STRING)")))
        .withColumn("th", F.expr(_SPARK_H.format(x="text")))
        .groupBy(F.col("shard").cast("bigint").alias("shard"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.col("h") % _CKSUM_MOD).cast("bigint").alias("checksum"),
            F.sum(F.col("th") % _CKSUM_MOD).cast("bigint").alias("text_checksum"),
        )
    )


# the oracle restates the manifest from the SOURCE rows: equality means
# the JSONL write+read round-trip preserved every doc id AND every byte
# of text (md5-based text checksum)
ORACLES["snk5_jsonl_export"] = f"""
        WITH d AS (
          SELECT doc_id, text,
                 {_DUCK_H.format(x='CAST(doc_id AS VARCHAR)')} AS h,
                 {_DUCK_H.format(x='text')} AS th
          FROM documents)
        SELECT CAST(h % {_N_SHARDS} AS BIGINT) AS shard,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(h % {_CKSUM_MOD}) AS BIGINT) AS checksum,
               CAST(SUM(th % {_CKSUM_MOD}) AS BIGINT) AS text_checksum
        FROM d GROUP BY CAST(h % {_N_SHARDS} AS BIGINT)"""

SPARK_QUERIES["snk5_jsonl_export"] = jsonl_export


def decontamination_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx32 — DECONTAMINATION IMPACT REPORT: tx8's per-document
    contamination verdicts rolled up per SOURCE into the table a
    training run signs off on before dropping flagged documents — how
    many train docs each source loses, how many tokens go with them,
    and the exact retention in ppm. A source whose removal ppm is an
    outlier is either genuinely benchmark-derived or the contamination
    tau is wrong for its register; either way this is the review table.
    All columns are exact integers (token counts, floor-division ppm)
    so the cross-engine hash is bit-stable.

    Scale: rides tx8's plan (broadcast test-shingle set, one doc-keyed
    shuffle); the source attach is one join keyed by doc_id against the
    documents scan projected to three columns, and the rollup output is
    bounded by |sources|."""
    per_doc = benchmark_contamination(spark, sf_dir).select("doc_id", "flagged")
    docs = _with_norm(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", F.size("words").cast("bigint").alias("n_tokens")
    )
    agg = (
        per_doc.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_train_docs"),
            F.sum(F.col("flagged").cast("bigint")).cast("bigint").alias("n_flagged"),
            F.sum("n_tokens").cast("bigint").alias("tokens_total"),
            F.sum(F.when(F.col("flagged"), F.col("n_tokens")).otherwise(F.lit(0)))
            .cast("bigint").alias("tokens_removed"),
        )
    )
    return agg.select(
        "source", "n_train_docs", "n_flagged", "tokens_total", "tokens_removed",
        F.expr(IDIV("n_flagged * 1000000", "n_train_docs")).alias("flagged_ppm"),
        F.expr(IDIV("(tokens_total - tokens_removed) * 1000000", "tokens_total"))
        .alias("token_retention_ppm"),
    )


ORACLES["tx32_decontamination_impact"] = f"""
        WITH per_doc AS ({ORACLES["tx8_benchmark_contamination"]}),
        d AS (SELECT doc_id, source,
                     CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_tokens
              FROM documents),
        agg AS (
          SELECT d.source,
                 CAST(COUNT(*) AS BIGINT) AS n_train_docs,
                 CAST(SUM(CASE WHEN p.flagged THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_flagged,
                 CAST(SUM(d.n_tokens) AS BIGINT) AS tokens_total,
                 CAST(SUM(CASE WHEN p.flagged THEN d.n_tokens ELSE 0 END)
                   AS BIGINT) AS tokens_removed
          FROM per_doc p JOIN d ON p.doc_id = d.doc_id
          GROUP BY d.source)
        SELECT source, n_train_docs, n_flagged, tokens_total, tokens_removed,
               {IDIV('n_flagged * 1000000', 'n_train_docs')} AS flagged_ppm,
               {IDIV('(tokens_total - tokens_removed) * 1000000', 'tokens_total')}
                 AS token_retention_ppm
        FROM agg"""

SPARK_QUERIES["tx32_decontamination_impact"] = decontamination_impact


# tx33's substring-cut window width. MUST equal dedup._DD26_K (pinned by
# test_tx33_k_matches_dd26) — a literal rather than an import because
# dedup's module-level oracle builders import THIS module, so importing
# back at text's load time would be circular.
_FUNNEL_K = 10

# tx33 funnel stage names in pipeline order; stage 8 (sequence_packing)
# switches the unit from documents to packed training sequences.
_FUNNEL_STAGES = (
    "raw", "exact_dedup", "substring_cut", "decontamination",
    "blocklist_policy", "quality_gate", "mixture_sample",
)


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx33 — THE END-TO-END CURATION FUNNEL: the single report a data
    team reads first, chaining every pipeline stage the repo ships as a
    standalone query — raw -> exact dedup (dd1's canonical keep) ->
    substring cut (dd26's duplicated-span removal, token-level) ->
    benchmark decontamination (tx8's shingle overlap vs the fixed test
    split, docs at/over tau dropped — including the benchmark split
    itself) -> blocklist policy (tx10) -> quality gate (tx2) -> mixture
    sampling (tx12) -> sequence packing (tx9). One row per stage with
    the surviving unit count and EXACT token accounting: integer tokens,
    wide-decimal floor ppm vs raw and vs the previous stage (the ev30
    DIV pattern — token totals * 1e6 outgrow IDIV's 2^53 double window
    at production scale).

    Semantics: each stage filters the previous stage's survivors; stage
    predicates evaluate on the original document content while token
    accounting from the substring cut onward uses EFFECTIVE tokens
    (n_tokens minus the doc's duplicated-span coverage, dd26's exact
    disjoint-interval union computed over the deduped corpus). A doc
    whose every token is span-covered drops at stage 3. Decontamination
    measures each survivor's distinct-3-gram overlap against the RAW
    corpus's test-split shingle set (the benchmark is external and
    fixed); docs with no shingles are unmeasurable and kept; the tau
    compare is cross-multiplied in integers (2*hits >= shingles) —
    exactly tx8's double compare for any feasible shingle count, with
    no float anywhere. The packing row reports packed sequences and
    their content tokens (oversize docs truncate to one full bin, tx9's
    rule).

    Scale: every scan is pruned to (doc_id, text[, source]) — the two
    aggregate sub-pipelines (dd26's span census over survivors, tx8's
    contamination rollup) reuse those operators' banded/broadcast plans
    and re-read only that projection; the funnel itself is ONE
    conditional aggregate over the joined flag stream plus a shard-local
    packing window over the final survivors. No all-pairs, no cartesian
    (the two 1-row stage aggregates attach by broadcast), nothing keyed
    finer than doc_id; four doc_id exchanges total (span rollup,
    contamination rollup, the flag join, and the survivors' re-read for
    packing — the packing window itself exchanges on shard, not doc_id).
    The flag frame feeds BOTH the stage aggregate and the survivors
    branch; AQE exchange reuse executes its expensive upstreams once
    (the span census and contamination rollups come back as
    ReusedExchange in the second branch — pinned by
    test_tx33_funnel_reuses_expensive_exchanges)."""
    return _curation_funnel_of(_with_norm(load_table(spark, sf_dir, "documents")))


def _curation_funnel_of(docs: DataFrame) -> DataFrame:
    """tx33 core over any (doc_id, source, text, norm, words) frame —
    see ``curation_funnel`` for semantics; split out (the dd26/ev30
    pattern) so tests can drive it on constructed corpora and
    cross-check against an independent python reference."""
    from .dedup import _dup_spans_of  # noqa: PLC0415

    k = _FUNNEL_K
    base = docs.select(
        "doc_id", "source", "text", "norm", "words",
        F.size("words").cast("bigint").alias("n_tokens"),
    )
    wd = Window.partitionBy(F.md5("text"))
    f2 = base.withColumn(
        "p_dedup", F.col("doc_id") == F.min("doc_id").over(wd)
    )

    # dd26's span census over stage-2 SURVIVORS (dup detection on the
    # deduped corpus — exact copies must not count as repeats)
    words2 = (
        f2.filter("p_dedup")
        .filter(F.size("words") >= k)
        .select("doc_id", "source", F.col("words").alias("w"))
    )
    cov = (
        _dup_spans_of(words2, k)
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").cast("bigint").alias("covered"))
    )

    # tx8's benchmark shingle set, fixed on the RAW corpus
    sh = base.filter(F.size("words") >= 3).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(words) - 2),"
                    " i -> concat_ws(' ', slice(words, i, 3)))"
                )
            )
        ).alias("shingle"),
    )
    test_set = (
        sh.filter(
            F.expr(_SPARK_H.format(x="CAST(doc_id AS STRING)")) % 100 >= 90
        )
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    contam = (
        sh.join(F.broadcast(test_set), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_sh"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("n_hit"),
        )
    )

    n_banned = sum(
        (F.array_contains("words", t).cast("int") for t in _BLOCKLIST),
        F.lit(0),
    )
    rate = F.lit(_MIX_DEFAULT)
    for src, r in _MIX_RATES.items():
        rate = F.when(F.col("source") == src, F.lit(r)).otherwise(rate)
    mix_bucket = (
        F.expr(_SPARK_H.format(x="concat('mix:', CAST(doc_id AS STRING))"))
        % 10000
    )
    eff = (F.col("n_tokens") - F.coalesce("covered", F.lit(0))).cast("bigint")
    scored = (
        f2.join(cov, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            eff.alias("eff_tokens"),
            "p_dedup",
            (eff > 0).alias("p_sub"),
            (F.col("n_sh").isNull() | (F.col("n_hit") * 2 < F.col("n_sh")))
            .alias("p_decon"),
            (n_banned == 0).alias("p_policy"),
            (
                (F.size("words") >= 10)
                & (
                    F.length(F.regexp_replace("norm", "[a-z0-9 ]", ""))
                    / F.length("norm").cast("double") <= 0.2
                )
                & (
                    F.size(F.array_distinct("words"))
                    / F.size("words").cast("double") >= 0.2
                )
            ).alias("p_quality"),
            (mix_bucket < (rate * 10000).cast("bigint")).alias("p_mix"),
        )
    )
    conds = [F.lit(True), F.col("p_dedup")]
    for flag in ("p_sub", "p_decon", "p_policy", "p_quality", "p_mix"):
        conds.append(conds[-1] & F.col(flag))
    toks = [F.col("n_tokens"), F.col("n_tokens")] + [F.col("eff_tokens")] * 5
    agg = scored.agg(
        *[
            F.sum(F.when(c, 1).otherwise(0)).cast("bigint").alias(f"d{i+1}")
            for i, c in enumerate(conds)
        ],
        *[
            F.sum(F.when(c, t).otherwise(0)).cast("bigint").alias(f"t{i+1}")
            for i, (c, t) in enumerate(zip(conds, toks))
        ],
    )

    surv = scored.filter(conds[-1]).select(
        "doc_id",
        F.least(F.col("eff_tokens"), F.lit(_PACK_BUDGET)).alias("nt"),
        (F.expr(_SPARK_H.format(x="CAST(doc_id AS STRING)")) % _PACK_SHARDS)
        .alias("shard"),
    )
    wp = Window.partitionBy("shard").orderBy(
        F.desc("nt"), F.asc("doc_id")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bins = (
        surv.withColumn("cum", F.sum("nt").over(wp))
        # integer DIV keeps the bin index exact past 2^53 cumulative
        # tokens per shard, matching the oracle's // (ADVICE r12);
        # GREATEST clamps the cum=0 trunc-vs-floor corner (ADVICE r13)
        .withColumn(
            "bin",
            F.expr(f"CAST(GREATEST(cum - 1, 0) DIV {_PACK_BUDGET} AS BIGINT)"),
        )
        .groupBy("shard", "bin")
        .agg(F.sum("nt").cast("bigint").alias("bt"))
    )
    pagg = bins.agg(
        F.count("*").cast("bigint").alias("d8"),
        F.coalesce(F.sum("bt"), F.lit(0)).cast("bigint").alias("t8"),
    )

    one = agg.crossJoin(F.broadcast(pagg))
    names = list(_FUNNEL_STAGES) + ["sequence_packing"]
    units = ["docs"] * 7 + ["sequences"]

    def _ppm(num: str, den: str) -> str:
        return (
            f"CAST(CAST({num} AS DECIMAL(38,0)) * 1000000"
            f" DIV GREATEST({den}, 1) AS BIGINT)"
        )

    rows = F.array(
        *[
            F.struct(
                F.lit(i).cast("bigint").alias("stage"),
                F.lit(nm).alias("stage_name"),
                F.lit(un).alias("unit"),
                F.col(f"d{i}").alias("n_units"),
                F.col(f"t{i}").alias("n_tokens"),
                F.expr(_ppm(f"t{i}", "t1")).alias("tokens_ppm_of_raw"),
                F.expr(_ppm(f"t{i}", f"t{max(i - 1, 1)}"))
                .alias("tokens_ppm_of_prev"),
            )
            for i, (nm, un) in enumerate(zip(names, units), start=1)
        ]
    )
    return one.select(F.explode(rows).alias("c")).select("c.*")


def _tx33_oracle() -> str:
    k = _FUNNEL_K
    h_doc = _DUCK_H.format(x="CAST(doc_id AS VARCHAR)")
    h_mix = _DUCK_H.format(x="'mix:' || CAST(f2.doc_id AS VARCHAR)")

    def ppm(num: str, den: str) -> str:
        return (
            f"CAST(CAST({num} AS HUGEINT) * 1000000"
            f" // GREATEST({den}, 1) AS BIGINT)"
        )

    branches = []
    names = list(_FUNNEL_STAGES) + ["sequence_packing"]
    units = ["docs"] * 7 + ["sequences"]
    for i, (nm, un) in enumerate(zip(names, units), start=1):
        branches.append(
            f"""SELECT CAST({i} AS BIGINT) AS stage, '{nm}' AS stage_name,
               '{un}' AS unit, d{i} AS n_units, t{i} AS n_tokens,
               {ppm(f"t{i}", "t1")} AS tokens_ppm_of_raw,
               {ppm(f"t{i}", f"t{max(i - 1, 1)}")} AS tokens_ppm_of_prev
            FROM onerow"""
        )
    cum_docs = []
    cum_toks = []
    cond = "TRUE"
    for i, flag in enumerate(
        ("p_dedup", "p_sub", "p_decon", "p_policy", "p_quality", "p_mix"),
        start=2,
    ):
        cond = f"{cond} AND {flag}"
        tok = "n_tokens" if i == 2 else "eff_tokens"
        cum_docs.append(
            f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS d{i}"
        )
        cum_toks.append(
            f"CAST(SUM(CASE WHEN {cond} THEN {tok} ELSE 0 END) AS BIGINT)"
            f" AS t{i}"
        )
    union = "\n UNION ALL\n ".join(branches)
    return f"""
        WITH d AS (
          SELECT doc_id, source, text, {_DUCK_NORM} AS norm,
                 {_DUCK_WORDS} AS words
          FROM documents),
        base AS (
          SELECT doc_id, source, text, norm, words,
                 CAST(len(words) AS BIGINT) AS n_tokens
          FROM d),
        f2 AS (
          SELECT *, doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
                 AS p_dedup
          FROM base),
        w2 AS (
          SELECT doc_id, words AS w FROM f2
          WHERE p_dedup AND len(words) >= {k}),
        occ AS (
          SELECT doc_id, s['pos'] AS pos, s['g'] AS g FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(w) - {k} + 2),
                     i -> struct_pack(pos := i,
                            g := md5(array_to_string(w[i:i+{k - 1}], ' ')))))
                   AS s
            FROM w2)),
        dup AS (SELECT g FROM occ GROUP BY g HAVING COUNT(*) >= 2),
        hits AS (SELECT doc_id, pos FROM occ JOIN dup USING (g)),
        isl AS (
          SELECT doc_id, pos,
                 SUM(CASE WHEN prev IS NOT NULL AND pos - prev > {k}
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS grp
          FROM (SELECT doc_id, pos,
                       LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                         AS prev
                FROM hits)),
        cov AS (
          SELECT doc_id, CAST(SUM(span_tokens) AS BIGINT) AS covered FROM (
            SELECT doc_id, grp,
                   CAST(MAX(pos) - MIN(pos) + {k} AS BIGINT) AS span_tokens
            FROM isl GROUP BY doc_id, grp)
          GROUP BY doc_id),
        sh AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, len(words) - 1),
                   i -> array_to_string(words[i:i+2], ' ')))) AS shingle
          FROM base WHERE len(words) >= 3),
        test_set AS (
          SELECT DISTINCT shingle FROM sh WHERE {h_doc} % 100 >= 90),
        contam AS (
          SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh,
                 CAST(SUM(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_hit
          FROM sh s LEFT JOIN test_set t ON s.shingle = t.shingle
          GROUP BY s.doc_id),
        scored AS (
          SELECT f2.doc_id, f2.n_tokens,
                 f2.n_tokens - COALESCE(cov.covered, 0) AS eff_tokens,
                 f2.p_dedup,
                 (f2.n_tokens - COALESCE(cov.covered, 0)) > 0 AS p_sub,
                 (contam.n_sh IS NULL OR contam.n_hit * 2 < contam.n_sh)
                   AS p_decon,
                 ({_BLOCK_SUM}) = 0 AS p_policy,
                 (len(words) >= 10
                  AND length(regexp_replace(norm, '[a-z0-9 ]', '', 'g'))
                      / CAST(length(norm) AS DOUBLE) <= 0.2
                  AND len(list_distinct(words))
                      / CAST(len(words) AS DOUBLE) >= 0.2) AS p_quality,
                 ({h_mix} % 10000)
                   < CAST(CAST({_MIX_CASE} AS DOUBLE) * 10000 AS BIGINT)
                   AS p_mix
          FROM f2 LEFT JOIN cov ON f2.doc_id = cov.doc_id
                  LEFT JOIN contam ON f2.doc_id = contam.doc_id),
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS d1,
                 CAST(SUM(n_tokens) AS BIGINT) AS t1,
                 {", ".join(cum_docs)},
                 {", ".join(cum_toks)}
          FROM scored),
        surv AS (
          SELECT doc_id, LEAST(eff_tokens, {_PACK_BUDGET}) AS nt,
                 {h_doc} % {_PACK_SHARDS} AS shard
          FROM scored
          WHERE p_dedup AND p_sub AND p_decon AND p_policy
                AND p_quality AND p_mix),
        packedc AS (
          SELECT shard, doc_id, nt,
                 SUM(nt) OVER (PARTITION BY shard
                   ORDER BY nt DESC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM surv),
        bins AS (
          SELECT shard,
                 CAST(GREATEST(cum - 1, 0) // {_PACK_BUDGET} AS BIGINT) AS bin,
                 CAST(SUM(nt) AS BIGINT) AS bt
          FROM packedc GROUP BY 1, 2),
        pagg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS d8,
                 CAST(COALESCE(SUM(bt), 0) AS BIGINT) AS t8
          FROM bins),
        onerow AS (SELECT * FROM agg CROSS JOIN pagg)
        {union}"""


ORACLES["tx33_curation_funnel"] = _tx33_oracle()
SPARK_QUERIES["tx33_curation_funnel"] = curation_funnel


def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx35 — DECLARED-vs-DETECTED LANGUAGE CONFUSION MATRIX: tx3's
    stopword-profile prediction cross-tabulated against each document's
    declared ``lang`` label — per (declared, predicted) cell the doc
    count, the cell's share of its declared-language row in ppm, and
    the agreement flag. The standard label-quality audit before
    trusting EITHER signal downstream (tx5 splits stratify on the
    declared label; a mixture recipe samples on it): a heavy
    off-diagonal cell means mislabeled or code-mixed sources, the
    thing a 100 TB curation run must quantify rather than assume away.

    Exactness: counts are exact bigints; the row share publishes as
    integer ppm (n * 1e6 DIV row total — operands far below 2^53).

    Scale: rides tx3's plan (token explode + broadcast profile dim +
    per-doc argmax); the confusion rollup is one keyed aggregate whose
    output is |langs|^2 rows, and the row-share window runs over that
    tiny table, never the documents."""
    per_doc = language_id(spark, sf_dir)
    conf = per_doc.groupBy("lang", "pred_lang").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    from pyspark.sql import Window  # noqa: PLC0415

    wl = Window.partitionBy("lang")
    return conf.select(
        "lang",
        "pred_lang",
        "n_docs",
        F.sum("n_docs").over(wl).alias("row_total"),
    ).select(
        "lang",
        "pred_lang",
        "n_docs",
        F.expr("CAST((n_docs * 1000000) DIV row_total AS BIGINT)").alias(
            "row_share_ppm"
        ),
        (F.col("lang") == F.col("pred_lang")).alias("agree"),
    )


ORACLES["tx35_langid_confusion"] = f"""
        WITH perdoc AS ({ORACLES["tx3_language_id"]}),
        conf AS (
          SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM perdoc GROUP BY 1, 2)
        SELECT lang, pred_lang, n_docs,
               CAST((n_docs * 1000000)
                    // SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT)
                 AS row_share_ppm,
               (lang = pred_lang) AS agree
        FROM conf"""
SPARK_QUERIES["tx35_langid_confusion"] = langid_confusion


_TX36_BUDGETS = (512, 2048, 8192)  # packing-frontier token budgets


def packing_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx36 — PACKING-EFFICIENCY FRONTIER: tx9's exact shard-local
    greedy packer evaluated at three sequence budgets, one row per
    budget with the bin count, packed token mass, capacity, padding
    waste in exact ppm, and the docs-per-bin extremes. Sequence length
    is THE training-throughput lever — a longer context amortizes
    padding (waste falls) but couples more unrelated documents into
    one attention context (docs/bin rises, the tx34 leakage surface
    grows) — and this census prices that trade with the production
    packer's own arithmetic rather than a back-of-envelope estimate.

    Exactness: the packer is tx9's integer running-sum cut, with the
    GREATEST(cum-1,0) DIV clamp on both engines (ADVICE r13) and
    per-budget truncation of oversize docs (LEAST(size, B), tx9's own
    rule at its single budget); waste_ppm is an exact integer floor
    over capacity = n_bins x budget.

    Scale: budgets explode FIRST (bounded fanout |budgets|), so each
    (budget, shard) packs independently under ONE shuffle keyed
    (budget, shard) — the same flat shard-local shape as tx9, never a
    global sort; the frontier rollup is |budgets| rows."""
    from ..corpus.corpus_sql import IDIV  # noqa: PLC0415

    docs = _with_norm(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.size("words").cast("bigint").alias("raw_tokens"),
        (F.expr(_SPARK_H.format(x="CAST(doc_id AS STRING)"))
         % _PACK_SHARDS).alias("shard"),
    )
    fanned = docs.select(
        "doc_id",
        "shard",
        F.explode(
            F.array(*[F.lit(b).cast("bigint") for b in _TX36_BUDGETS])
        ).alias("budget"),
    ).join(docs.select("doc_id", "raw_tokens"), "doc_id").select(
        "doc_id",
        "shard",
        "budget",
        F.least(F.col("raw_tokens"), F.col("budget")).alias("n_tokens"),
    )
    w = Window.partitionBy("budget", "shard").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    packed = fanned.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "bin",
        F.expr("CAST(GREATEST(cum - 1, 0) DIV budget AS BIGINT)"),
    )
    bins = packed.groupBy("budget", "shard", "bin").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
    )
    per = bins.groupBy("budget").agg(
        F.count("*").cast("bigint").alias("n_bins"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("bin_tokens").cast("bigint").alias("total_tokens"),
        F.min("n_docs").cast("bigint").alias("min_docs_per_bin"),
        F.max("n_docs").cast("bigint").alias("max_docs_per_bin"),
    )
    return per.select(
        "budget",
        "n_bins",
        "n_docs",
        "total_tokens",
        (F.col("n_bins") * F.col("budget")).alias("capacity_tokens"),
        F.expr(IDIV("(n_bins * budget - total_tokens) * 1000000",
                    "n_bins * budget")).alias("waste_ppm"),
        "min_docs_per_bin",
        "max_docs_per_bin",
    )


def _tx36_oracle() -> str:
    from ..corpus.corpus_sql import IDIV  # noqa: PLC0415

    budgets = ", ".join(f"({b})" for b in _TX36_BUDGETS)
    return f"""
        WITH d AS (
          SELECT doc_id,
                 CAST(len({_DUCK_WORDS}) AS BIGINT) AS raw_tokens,
                 {_DUCK_H.format(x="CAST(doc_id AS VARCHAR)")}
                   % {_PACK_SHARDS} AS shard
          FROM documents),
        fanned AS (
          SELECT d.doc_id, d.shard, CAST(b.budget AS BIGINT) AS budget,
                 LEAST(d.raw_tokens, b.budget) AS n_tokens
          FROM d CROSS JOIN (VALUES {budgets}) b(budget)),
        packed AS (
          SELECT *, SUM(n_tokens) OVER (PARTITION BY budget, shard
                      ORDER BY n_tokens DESC, doc_id
                      ROWS UNBOUNDED PRECEDING) AS cum
          FROM fanned),
        bins AS (
          SELECT budget, shard,
                 CAST(GREATEST(cum - 1, 0) // budget AS BIGINT) AS bin,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
          FROM packed GROUP BY 1, 2, 3),
        per AS (
          SELECT budget,
                 CAST(COUNT(*) AS BIGINT) AS n_bins,
                 CAST(SUM(n_docs) AS BIGINT) AS n_docs,
                 CAST(SUM(bin_tokens) AS BIGINT) AS total_tokens,
                 CAST(MIN(n_docs) AS BIGINT) AS min_docs_per_bin,
                 CAST(MAX(n_docs) AS BIGINT) AS max_docs_per_bin
          FROM bins GROUP BY budget)
        SELECT budget, n_bins, n_docs, total_tokens,
               n_bins * budget AS capacity_tokens,
               {IDIV('(n_bins * budget - total_tokens) * 1000000',
                     'n_bins * budget')} AS waste_ppm,
               min_docs_per_bin, max_docs_per_bin
        FROM per"""


ORACLES["tx36_packing_frontier"] = _tx36_oracle()
SPARK_QUERIES["tx36_packing_frontier"] = packing_frontier
