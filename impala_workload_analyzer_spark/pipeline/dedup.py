"""Document deduplication: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Cross-engine-deterministic hashing: token/shingle hashes are the first 15
hex chars of md5 (60 bits, identical in Spark via ``conv`` and DuckDB via
``'0x'||…`` cast), so even the LSH band buckets are oracle-checkable —
no reliance on engine-internal hash functions.

Scale design (the point of these operators):
- exact dedup: one shuffle on the digest; at 100 TB put the digest in the
  ingest path and dedup becomes a groupBy on a pre-partitioned column.
- MinHash-LSH: candidate generation is |bands| rows per doc joined on
  (band_idx, band_key) — linear, no all-pairs blowup; only candidates pay
  the exact-Jaccard verification join. Band-key skew (boilerplate docs)
  is the known hot spot -> AQE skew-join or a frequency cap on buckets.
- SimHash: 64-bit signature per doc; near-dup = signature bucket (or
  Hamming-ball probing across rotated keys at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table

# 60-bit md5-prefix hash — portable across Spark (conv) and DuckDB (0x cast)
_SPARK_H = "CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"
_DUCK_H = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"

_P = 2147483647  # Mersenne prime 2^31-1 for the minhash universal family
_N_HASHES = 16
_BAND_SIZE = 2  # 8 bands of 2 -> candidates at jaccard ~0.5+
# deterministic (a, b) coefficients, odd a, fixed seed-free construction
_COEFFS = [(2 * i + 1, 7919 * (i + 1) % _P) for i in range(1, _N_HASHES + 1)]

_JACCARD_THRESHOLD = 0.5


def _words(spark_side: bool) -> str:
    if spark_side:
        return "split(regexp_replace(trim(lower(text)), '\\\\s+', ' '), ' ')"
    return "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd1 — exact duplicate groups by md5(text): canonical (min) doc_id,
    member count. One shuffle on the digest."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("num_docs"))
    )


def _shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word-3-gram shingles per doc (docs with >= 3 words)."""
    return _shingles_of(load_table(spark, sf_dir, "documents"))


def _shingles_of(docs: DataFrame) -> DataFrame:
    return (
        docs.select("doc_id", F.expr(_words(True)).alias("w"))
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr("transform(sequence(1, size(w) - 2), i -> concat_ws(' ', slice(w, i, 3)))")
                )
            ).alias("shingle"),
        )
    )


_DUCK_SHINGLES = f"""
shingles AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')))) AS shingle
  FROM (SELECT doc_id, {_words(False)} AS w FROM documents)
  WHERE len(w) >= 3
)
"""


_SHINGLE_DF_CAP = 100  # drop shingles shared by more than this many docs
                       # from CANDIDATE GENERATION (verification stays exact)


def _pair_overlap(cands: DataFrame, shingles: DataFrame) -> DataFrame:
    """(doc_a, doc_b, inter, sz_a, sz_b) for the given candidate
    (doc_a < doc_b) pairs, computed against the FULL shingle sets —
    candidate pruning upstream never skews the reported overlap. The
    shared verify stage behind exact Jaccard (dd2/dd3/dd12) and
    asymmetric containment (dd14). (A candidate-doc semi-join on the
    shingle side was A/B-tested here and reverted: recomputing the
    candidate lineage for the semi-join cost more than the scan it
    saved — dd14 8.9 s -> 13.6 s at sf0.1.)"""
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        cands.join(shingles.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            shingles.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
    )


def _verify_jaccard(cands: DataFrame, shingles: DataFrame) -> DataFrame:
    """Exact Jaccard for the given candidate pairs, mirroring dd3's LSH
    verify stage."""
    return _pair_overlap(cands, shingles).select(
        "doc_a",
        "doc_b",
        (
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
        ).alias("jaccard"),
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd2 — word-3-gram Jaccard >= 0.5 via shared-shingle candidates.

    Scale guard: a boilerplate shingle shared by k docs makes the naive
    shared-shingle self-join O(k^2). Candidate generation therefore only
    joins on shingles whose document frequency is <= _SHINGLE_DF_CAP;
    verification then computes EXACT Jaccard on full shingle sets for the
    surviving pairs. The only pairs lost are those whose every common
    shingle is boilerplate-hot — which at threshold 0.5 implies near-
    boilerplate docs, the standard recall trade (same cap in the oracle)."""
    return _ngram_jaccard_of(_shingles_df(spark, sf_dir))


def _rare_shingle_cands(shingles: DataFrame) -> DataFrame:
    """Candidate (doc_a < doc_b) pairs sharing at least one shingle whose
    document frequency is <= _SHINGLE_DF_CAP — the hot-key-guarded
    generation stage shared by dd2 and dd14."""
    rare = shingles.join(
        shingles.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _SHINGLE_DF_CAP)
        .select("shingle"),
        "shingle",
    )
    return (
        rare.alias("a")
        .join(
            rare.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _rare_pair_overlap(shingles: DataFrame) -> DataFrame:
    """(doc_a, doc_b, inter, sz_a, sz_b) for the rare-shingle candidate
    pairs, via a SPLIT exact intersection (r15 optimization round,
    guide §1.2/§2.3): the old shape re-joined the 1.1M candidate pairs
    back against both docs' full shingle sets — a ~59M-row intermediate
    (|cands| x doc_len) that dominated the jaccard3 build (5.7 of 7.0 s
    at sf0.1). Exact identity used instead: every shared shingle is
    either rare (df <= cap) or hot (df > cap), so

      inter = rare_inter + |hot_A ∩ hot_B|

    where rare_inter = count(*) per pair over the SAME self-join row
    stream the candidate distinct already shuffled (one exchange does
    both jobs), and the hot sets are per-doc arrays of the df-capped
    boilerplate shingles — small by construction (a hot shingle is one
    shared by > cap docs; docs hold few of them), attached on doc_id and
    intersected with ``array_intersect``. Measured 6.00 -> 1.61 s at
    sf0.1, bit-identical output (exceptAll 0/0).

    The doc-side attach carries NO broadcast hint on purpose (r15
    verdict #1): ``doc_side`` is one row per document, so at corpus
    scale it outgrows the 8 GB broadcast cap, and an explicit hint would
    make Spark attempt the broadcast anyway and fail the job instead of
    degrading. Left unhinted, AQE broadcasts it from its measured
    post-shuffle size while it fits (it does at every test scale — see
    plans/r16/dd2_*_after_final.txt) and falls back to a doc_id-keyed
    shuffled join when it no longer does — still linear in pairs, never
    |cands| x doc_len.

    Exactness precondition: the split identity needs shingles DISTINCT
    per (doc_id, shingle) — ``_shingles_of`` guarantees it via
    array_distinct. rare_inter counts join rows (would double-count a
    repeated shingle) while the hot side dedupes by construction
    (collect_set + array_intersect), so a non-distinct input would skew
    the two halves asymmetrically; tests/test_dedup.py pins the split
    against the join-based overlap on a hot-shingle corpus."""
    dfreq = shingles.groupBy("shingle").agg(F.count("*").alias("df"))
    rare = shingles.join(
        dfreq.filter(F.col("df") <= _SHINGLE_DF_CAP).select("shingle"), "shingle"
    )
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("sz"))
    hot_sets = (
        shingles.join(
            dfreq.filter(F.col("df") > _SHINGLE_DF_CAP).select("shingle"), "shingle"
        )
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("hot"))
    )
    doc_side = sizes.join(hot_sets, "doc_id", "left").select(
        "doc_id", "sz",
        F.coalesce("hot", F.array().cast("array<string>")).alias("hot"),
    )
    pairc = (
        rare.alias("a")
        .join(
            rare.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("rare_inter"))
    )
    return (
        pairc.join(
            doc_side.select(F.col("doc_id").alias("doc_a"),
                            F.col("sz").alias("sz_a"),
                            F.col("hot").alias("hot_a")), "doc_a")
        .join(
            doc_side.select(F.col("doc_id").alias("doc_b"),
                            F.col("sz").alias("sz_b"),
                            F.col("hot").alias("hot_b")), "doc_b")
        .select(
            "doc_a", "doc_b",
            (F.col("rare_inter")
             + F.size(F.array_intersect("hot_a", "hot_b")).cast("long")).alias("inter"),
            "sz_a", "sz_b",
        )
    )


def _ngram_jaccard_of(shingles: DataFrame) -> DataFrame:
    pairs = _rare_pair_overlap(shingles).select(
        "doc_a",
        "doc_b",
        (
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
        ).alias("jaccard"),
    )
    return pairs.filter(F.col("jaccard") >= _JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round("jaccard", 9).alias("jaccard")
    )


def _minhash_sig(sh: DataFrame) -> DataFrame:
    """(doc_id, h0..h{N-1}) MinHash signature from the shingle-hash DF —
    the single definition shared by dd3's band join and dd16's
    calibration, so the estimator can never drift from the index."""
    return sh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("hx") + F.lit(b)) % _P).alias(f"h{i}")
            for i, (a, b) in enumerate(_COEFFS)
        ]
    )


def _band_candidates(sh: DataFrame) -> DataFrame:
    """dd3's LSH candidate generation: signature -> banded keys ->
    same-band self-join -> distinct (doc_a < doc_b) pairs."""
    n_bands = _N_HASHES // _BAND_SIZE
    bands = _minhash_sig(sh).select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_idx"),
                        F.concat_ws(
                            "_", *[F.col(f"h{j * _BAND_SIZE + k}") for k in range(_BAND_SIZE)]
                        ).alias("band_key"),
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band_idx", "b.band_key")
    return (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


def _minhash_pairs_of(shingles: DataFrame) -> DataFrame:
    """dd3's full pipeline over a given shingle frame — the single
    definition shared by the live dd3 query and the multi-tier
    instruments (dd17/dd21) that reuse one persisted frame."""
    cands = _band_candidates(
        shingles.withColumn("hx", F.expr(_SPARK_H.format(x="shingle")) % _P)
    )
    # exact-Jaccard verification restricted to the candidate pairs — the
    # whole point of LSH at scale: work is O(|candidates| x doc_len), never
    # the all-pairs-sharing-a-shingle join the exact dd2 baseline pays
    pairs = _verify_jaccard(cands, shingles)
    return pairs.filter(F.col("jaccard") >= _JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round("jaccard", 9).alias("jaccard")
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd3 — MinHash-LSH candidate pairs verified by exact Jaccard.

    signature[i] = min over shingles of (a_i * (h(shingle) mod p) + b_i)
    mod p; 8 bands x 2 rows; candidates join on band key; survivors keep
    jaccard >= 0.5. Fixed coefficients, md5-based h -> fully deterministic
    and oracle-checked (pyspark.ml's MinHashLSH would be seed-dependent)."""
    return _minhash_pairs_of(_shingles_df(spark, sf_dir))


def _shared_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shingle frame persisted once per (session, corpus) — the
    feature-store pattern (_colocated_nodes, feature_table) applied
    to the dedup family's shared intermediate. The multi-tier
    instruments (dd17 runs dd2+dd3's pipelines in one report, dd21 runs
    three band configs against one truth set) otherwise re-explode the
    word 3-grams of every document four to five times per query — the
    measured win was dd21 24.5 s -> 14.4 s at sf0.1. Single-tier
    queries (dd2/dd3) keep the live scan: their solo plans stay
    pushdown-friendly and contract-pinned. At cluster scale the same
    role is played by materializing shingles to a bucketed table once
    per corpus snapshot; correctness never depends on the cache (a cold
    call rebuilds). Keyed by applicationId via cache_util.session_persisted
    (ADVICE r8: id(spark) can be reused after GC, and dead entries pinned
    executor memory)."""
    from ..cache_util import session_persisted  # noqa: PLC0415

    return session_persisted(
        spark, sf_dir, "shingles", lambda: _shingles_df(spark, sf_dir)
    )


def _shared_jaccard3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd2's exact DF-capped 3-gram Jaccard pair set persisted once per
    (session, corpus) — the GROUND-TRUTH frame the multi-tier
    instruments reuse (dd17's jaccard3 tier, dd21's recall
    denominator). The build is the dedup family's single most expensive
    stage (the shingle-sharing pair join + per-pair verify: measured
    ~92 s alone at the sf1-equivalent), while the OUTPUT is one row per
    verified pair — trivially persistable. Production shape: the exact
    truth set is materialized once per corpus snapshot and every audit
    joins it. dd2 itself keeps its live, contract-pinned scan."""
    from ..cache_util import session_persisted  # noqa: PLC0415

    return session_persisted(
        spark, sf_dir, "jaccard3",
        lambda: _ngram_jaccard_of(_shared_shingles(spark, sf_dir)),
    )


def _shared_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd3's verified MinHash-LSH near-dup pair set persisted once per
    (session, corpus) — one row per verified pair, built by the banded
    signature join + exact verify. Consumed by dd17's minhash tier,
    dd24's source matrix, and tx31's fuzzy leakage tier; dd3 itself
    keeps the live, contract-pinned pipeline."""
    from ..cache_util import session_persisted  # noqa: PLC0415

    return session_persisted(
        spark, sf_dir, "minhash_pairs",
        lambda: _minhash_pairs_of(_shared_shingles(spark, sf_dir)),
    )


def _shared_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd8's near-dup component labels persisted once per (session,
    corpus) — one tiny (doc_id, component_id) row per document, built by
    the family's second most expensive pipeline (dd3's banded LSH +
    exact verify + the label-propagation fixpoint). Six downstream
    analytics consume the labels (dd13/dd18/dd19/dd20/dd22/tx23);
    before this frame each recomputed the whole pipeline per query.
    dd8 itself keeps the live, contract-pinned computation."""
    from ..cache_util import session_persisted  # noqa: PLC0415

    return session_persisted(
        spark, sf_dir, "cc_labels",
        lambda: neardup_components(spark, sf_dir),
    )


_CC_MAX_ITERS = 25


def label_components(nodes: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Connected components of the undirected graph ``pairs`` (two node-id
    columns) over ``nodes`` (column ``id_col``), as ``(id_col, label)``
    with label = the component's min id — the fixpoint dd8 and dd9 share.
    Label propagation: every node starts labeled with its own id; each
    round every node takes the min of its own and its neighbors' labels;
    converges to min-id-per-component in O(diameter) rounds.

    This is the iterative-algorithm pattern done Spark-native: each round
    is one join + one aggregate over the whole graph (no per-node driver
    work); ``localCheckpoint`` cuts the growing lineage each round, and
    the only driver-side scalar is the per-round convergence count —
    exactly how large-scale CC (e.g. GraphFrames) is structured. Near-dup
    graphs are unions of small cliques, so the diameter — and the round
    count — stays tiny even at 100 TB."""
    a, b = pairs.columns
    edges = pairs.unionByName(
        pairs.select(F.col(b).alias(a), F.col(a).alias(b))
    ).select(F.col(a).alias("src"), F.col(b).alias("dst"))
    edges = edges.localCheckpoint(eager=True)  # pairs derivation runs once
    labels = (
        nodes.select(id_col)
        .withColumn("label", F.col(id_col))
        .localCheckpoint(eager=True)
    )
    for _ in range(_CC_MAX_ITERS):
        neigh = labels.join(edges, labels[id_col] == edges["src"]).select(
            F.col("dst").alias(id_col), "label"
        )
        new_labels = (
            labels.select(id_col, "label")
            .unionByName(neigh)
            .groupBy(id_col)
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "old"), id_col)
            .filter(F.col("label") != F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    # a diameter > _CC_MAX_ITERS chain would exit with wrong labels;
    # fail loudly rather than return silently-mislabeled components
    raise RuntimeError(
        f"connected-components did not converge in {_CC_MAX_ITERS} rounds"
    )


def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd8 — connected components over the MinHash-LSH near-dup graph: the
    dedup endgame, turning pairwise matches into canonical groups (keep
    one doc per component), via the shared ``label_components`` fixpoint.
    The DuckDB oracle computes the same fixpoint as a WITH RECURSIVE
    reachability closure.

    The edge list reads the session's verified pair frame
    (_shared_minhash_pairs) rather than re-running dd3's banded join +
    exact verify: the pair set is value-identical by construction
    (exceptAll 0/0 measured before the switch, 1.59 -> 1.03 s at sf0.1),
    and every other pair consumer (dd17's tier, dd24, tx31) already
    reads the same frame — production materializes the verified pairs
    once per corpus snapshot and the component pass joins them."""
    labels = label_components(
        load_table(spark, sf_dir, "documents"),
        _shared_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b"),
        "doc_id",
    )
    return labels.select("doc_id", F.col("label").alias("component_id"))


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd4 — 60-bit SimHash per document: bit j of the signature is the
    sign of sum over token occurrences of (bit j of h(token) ? +1 : -1).
    Near-dup buckets = equal signatures.

    Shape note (measured, round 4): the token x 60 bit-row explosion
    looks like a 60x blowup, but it stays inside whole-stage codegen and
    the (doc, j) hash agg reduces map-side before any shuffle — 1.15 s at
    sf0.1. The "leaner" alternative (collect token hashes per doc, fold
    60 lanes with aggregate/zip_with) measured 2.09 s warm: Catalyst
    evaluates HOF lambdas interpreted per element, and the small
    collect_list shuffle AQE-coalesces to one task, serializing the whole
    fold. Codegen'd explosion + partial agg wins; kept deliberately."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.expr(_words(True))).alias("tok")
    ).withColumn("h", F.expr(_SPARK_H.format(x="tok")))
    bits = toks.select(
        "doc_id", "h", F.explode(F.expr("sequence(0, 59)")).alias("j")
    ).select(
        "doc_id",
        "j",
        F.when(F.expr("(h >> j) & 1") == 1, F.lit(1)).otherwise(F.lit(-1)).alias("v"),
    )
    return (
        bits.groupBy("doc_id", "j")
        .agg(F.sum("v").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("s") > 0, F.expr("CAST(pow(2, j) AS BIGINT)")).otherwise(F.lit(0))).alias(
                "simhash"
            )
        )
    )


def norm_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd7 — normalize-and-keep-best dedup, the canonical pipeline
    composition: group by md5 of the whitespace/case-normalized text (so
    formatting variants of a document collapse together) and keep the
    best raw variant — longest raw text, ties to the lowest doc_id.

    Spark-first shape: a single hash aggregate with ``max_by`` over a
    struct ordering key — one shuffle on the digest, map-side partial
    aggregation, no window sort. (The oracle states the same selection as
    a ROW_NUMBER window, since DuckDB's arg_max lacks struct keys.)"""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        F.expr("md5(trim(regexp_replace(lower(text), '\\\\s+', ' ')))").alias("digest"),
        "doc_id",
        F.length("text").cast("long").alias("n_chars_raw"),
    )
    return scored.groupBy("digest").agg(
        F.count("*").alias("num_docs"),
        F.max("n_chars_raw").alias("max_chars"),
        F.expr("max_by(doc_id, struct(n_chars_raw, -doc_id))").alias("kept_doc_id"),
    )


_HAMMING_MAX = 3
_N_SIM_BANDS = 4  # 60-bit signature -> 4 bands x 15 bits


def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd6 — SimHash near-duplicate pairs: split each 60-bit signature
    into 4 x 15-bit bands; candidate pairs share at least one band (by
    pigeonhole, any pair within hamming distance 3 must agree on one of
    the 4 bands, so recall is EXACT for the <= 3 threshold); verify with
    ``bit_count(xor)``.

    Scale: the band join touches only same-band groups — corpus^2/2^15
    per band in the worst case instead of corpus^2 — and the verify step
    runs on candidates only, mirroring dd3's LSH shape."""
    sigs = simhash_signatures(spark, sf_dir)
    bands = sigs.select(
        "doc_id", "simhash",
        F.explode(F.expr("sequence(0, %d)" % (_N_SIM_BANDS - 1))).alias("band_idx"),
    ).withColumn("band_key", F.expr("(simhash >> (15 * band_idx)) & 32767"))
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"),
        "band_idx", "band_key",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"),
        "band_idx", "band_key",
    )
    cands = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    return (
        cands.withColumn("hamming", F.expr("CAST(bit_count(sig_a ^ sig_b) AS BIGINT)"))
        .filter(F.col("hamming") <= _HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


def _shared_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd6's verified SimHash near-dup pair set persisted once per
    (session, corpus) — one row per verified pair, built by the banded
    signature join + hamming verify (the _shared_minhash_pairs pattern
    applied to the family's remaining twice-executed pipeline, r15
    optimization round). Consumed by dd17's simhash tier; dd6 itself
    keeps the live, contract-pinned pipeline (and is benched BEFORE the
    shared builds — its live plan equals the build plan, the dd3/sim1
    fully-cached guard). Correctness never depends on the cache: a cold
    call rebuilds."""
    from ..cache_util import session_persisted  # noqa: PLC0415

    return session_persisted(
        spark, sf_dir, "simhash_pairs",
        lambda: simhash_neardup_pairs(spark, sf_dir),
    )


_DUCK_JACCARD = f"""
, {_DUCK_SHINGLES.strip()},
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM shingles a JOIN shingles b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
jac AS (
  SELECT doc_a, doc_b,
         CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
)
"""

_DUCK_MINHASH_SIG = (
    "sig AS (\n  SELECT doc_id, "
    + ", ".join(
        f"MIN(({a} * hx + {b}) % {_P}) AS h{i}" for i, (a, b) in enumerate(_COEFFS)
    )
    + f"\n  FROM (SELECT doc_id, {_DUCK_H.format(x='shingle')} % {_P} AS hx FROM shingles)"
    + "\n  GROUP BY doc_id\n)"
)

_DUCK_BANDS = (
    "bands AS (\n"
    + "\n  UNION ALL\n".join(
        "  SELECT doc_id, {j} AS band_idx, CAST(h{a} AS STRING) || '_' || CAST(h{b} AS STRING) AS band_key FROM sig".format(
            j=j, a=2 * j, b=2 * j + 1
        )
        for j in range(_N_HASHES // _BAND_SIZE)
    )
    + "\n)"
)

_INCR_SPLIT = 80  # hash buckets < 80 = the already-ingested "seen" corpus


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd10 — incremental exact dedup: the nightly-shard shape. The corpus
    splits by content-independent doc_id hash into a "seen" index
    (buckets < _INCR_SPLIT, modeling yesterday's deduped corpus) and a
    "new" shard; each new document is dropped when its md5(text) digest
    already exists in the index (``dup_of_seen``), or when an earlier new
    doc in the same shard has it (``dup_in_shard``), else ``kept``.
    ``canonical_doc_id`` points at the retained representative.

    Scale shape: the seen side is the persisted digest->canonical index —
    at 100 TB it is far too large to broadcast, so the lookup is a
    digest-keyed shuffle join (both sides hash-partition on digest); the
    within-shard pick is a window over the same key, reusing the
    partitioning. One logical shuffle key end to end."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_SPARK_H.format(x="CAST(doc_id AS STRING)")) % 100
    tagged = docs.select(
        "doc_id", F.md5("text").alias("digest"), bucket.alias("bucket")
    )
    seen = (
        tagged.filter(F.col("bucket") < _INCR_SPLIT)
        .groupBy("digest")
        .agg(F.min("doc_id").alias("seen_canonical"))
    )
    new = tagged.filter(F.col("bucket") >= _INCR_SPLIT).select("doc_id", "digest")
    wd = Window.partitionBy("digest")
    ranked = (
        new.join(seen, "digest", "left")
        .withColumn("first_doc", F.min("doc_id").over(wd))
    )
    status = (
        F.when(F.col("seen_canonical").isNotNull(), "dup_of_seen")
        .when(F.col("doc_id") != F.col("first_doc"), "dup_in_shard")
        .otherwise("kept")
    )
    return ranked.select(
        "doc_id",
        status.alias("status"),
        F.coalesce("seen_canonical", "first_doc").alias("canonical_doc_id"),
    )


_WINNOW_DF_CAP = 50  # same hot-key guard as _SHINGLE_DF_CAP, sparser index


def winnow_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd12 — near-dup pairs through the WINNOWING index (the
    MOSS/plagiarism-detection construction, Schleimer et al. 2003):
    candidates are documents sharing a winnowed fingerprint (tx4's
    output — ~1/w of the shingle space, so the index is w-fold smaller
    than dd2's full shared-shingle join), then exact Jaccard on full
    shingle sets verifies, same stage as dd2/dd3. Winnowing guarantees
    matches of length >= k + w - 1 share a fingerprint, so recall loss
    is bounded by construction, not luck.

    Scale: the candidate self-join runs on the winnowed index (w-fold
    fewer rows than shingles) with the same hot-fingerprint DF cap dd2
    applies to boilerplate shingles; verification touches only surviving
    deduped pairs."""
    from .text import winnow_fingerprints  # noqa: PLC0415

    fps = winnow_fingerprints(spark, sf_dir)
    rare = fps.join(
        fps.groupBy("fingerprint")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= _WINNOW_DF_CAP)
        .select("fingerprint"),
        "fingerprint",
    )
    cands = (
        rare.alias("a")
        .join(
            rare.alias("b"),
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    pairs = _verify_jaccard(cands, _shingles_df(spark, sf_dir))
    return pairs.filter(F.col("jaccard") >= _JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round("jaccard", 9).alias("jaccard")
    )


def _dd12_oracle() -> str:
    from .text import ORACLES as _TX_ORACLES  # noqa: PLC0415

    tx4 = _TX_ORACLES["tx4_winnow_fingerprints"]
    return f"""
        WITH x AS (SELECT 1){_DUCK_JACCARD},
        fps AS ({tx4}),
        rare AS (
          SELECT f.doc_id, f.fingerprint FROM fps f
          JOIN (SELECT fingerprint FROM fps GROUP BY fingerprint
                HAVING COUNT(*) <= {_WINNOW_DF_CAP}) r
            ON f.fingerprint = r.fingerprint),
        cands AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM rare a JOIN rare b
            ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id)
        SELECT j.doc_a, j.doc_b, ROUND(j.jaccard, 9) AS jaccard
        FROM jac j JOIN cands c ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
        WHERE j.jaccard >= {_JACCARD_THRESHOLD}"""


def component_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd13 — QUALITY-AWARE canonical selection: dd8's near-dup components
    joined with tx2's quality signals, keeping the HIGHEST-quality member
    per component (type-token ratio, doc_id tie-break) instead of dd8's
    arbitrary min-id convention — the selection a pre-training corpus
    actually wants (drop the near-dups, keep the best-written copy).
    Output carries the component id, member count, each doc's quality and
    the keep decision, so the downstream filter is one boolean column.

    Scale: the component labels are already doc-keyed (dd8's output); the
    quality join is doc_id-keyed; the keep-best window partitions by
    component_id — near-dup components are small cliques, so no window
    partition ever exceeds a clique size. Quality rounds to 9 decimals
    BEFORE ranking so cross-engine ties cannot diverge."""
    from .text import quality_score  # noqa: PLC0415

    comp = _shared_components(spark, sf_dir)
    q = quality_score(spark, sf_dir).select(
        "doc_id", F.round("type_token_ratio", 9).alias("quality")
    )
    joined = comp.join(q, "doc_id")
    w = Window.partitionBy("component_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    wp = Window.partitionBy("component_id")
    return joined.select(
        "doc_id",
        "component_id",
        F.count("*").over(wp).cast("bigint").alias("n_members"),
        "quality",
        (F.row_number().over(w) == 1).alias("kept"),
    )


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx20 — per-document N-GRAM NOVELTY: the fraction of a document's
    word-3-gram shingles appearing in NO other document. High-novelty
    docs carry content the corpus has nowhere else; docs whose shingles
    are all corpus-common are template/boilerplate assemblies even when
    no single near-duplicate exists — the uniqueness signal pairwise
    dedup (dd2/dd3) cannot see. Lives in the dedup module because it is
    pure shingle machinery (the text family consumes its output).

    Scale: one groupBy(shingle) document-frequency pass whose table
    joins back SHINGLE-KEYED (vocabulary-sized — too big to broadcast at
    100 TB), then one doc-keyed agg. Docs with < 3 words have no
    shingles and are excluded, as in dd2."""
    shingles = _shingles_df(spark, sf_dir)
    df = shingles.groupBy("shingle").agg(F.count("*").alias("df"))
    return (
        shingles.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("bigint")).alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            F.round(
                F.col("n_unique").cast("double") / F.col("n_shingles"), 9
            ).alias("novelty"),
        )
    )


_TX20_SQL = f"""
        WITH {_DUCK_SHINGLES.strip()},
        dfreq AS (SELECT shingle, COUNT(*) AS df FROM shingles GROUP BY shingle)
        SELECT s.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_unique,
               ROUND(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)
                     / CAST(COUNT(*) AS DOUBLE), 9) AS novelty
        FROM shingles s JOIN dfreq d USING (shingle)
        GROUP BY s.doc_id"""


def minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd16 — MinHash ESTIMATE calibration: for every LSH candidate pair
    (dd3's band join), the signature-estimated Jaccard (matching
    components / _N_HASHES — the unbiased Broder estimator) next to the
    exact shingle Jaccard and the signed error. This is the audit that
    says whether _N_HASHES is wide enough for the dedup threshold —
    completing the measure-don't-guess family: sim9/sim10/sim12 price
    the ANN approximations, dd16 prices the dedup sketch itself (a pair
    the estimator puts at 0.56 when truth is 0.44 is a threshold
    misclassification the per-pair error column makes visible).

    Scale: the signature table is corpus-sized but _N_HASHES ints wide;
    candidates come from dd3's banded join (never all-pairs); the exact
    side is the shared _pair_overlap verify — the audit adds only a
    doc-keyed sig join per side, cost O(|candidates|). Band-collision
    pairs sharing NO shingle keep exact Jaccard 0 via the left join."""
    sh = _shingles_df(spark, sf_dir).withColumn(
        "hx", F.expr(_SPARK_H.format(x="shingle")) % _P
    )
    sig = _minhash_sig(sh).select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(_N_HASHES)]).alias("sig")
    )
    cands = _band_candidates(sh)
    est = (
        cands.join(
            sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa")),
            "doc_a",
        )
        .join(
            sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb")),
            "doc_b",
        )
        .withColumn(
            "est_jaccard",
            F.expr(
                "aggregate(zip_with(sa, sb, (x, y) -> CASE WHEN x = y THEN 1"
                " ELSE 0 END), 0, (acc, v) -> acc + v)"
                f" / CAST({_N_HASHES} AS DOUBLE)"
            ),
        )
        .select("doc_a", "doc_b", "est_jaccard")
    )
    exact = _verify_jaccard(cands, _shingles_df(spark, sf_dir))
    j = F.coalesce(F.col("jaccard"), F.lit(0.0))
    return est.join(exact, ["doc_a", "doc_b"], "left").select(
        "doc_a", "doc_b",
        F.round("est_jaccard", 9).alias("est_jaccard"),
        F.round(j, 9).alias("jaccard"),
        F.round(F.col("est_jaccard") - j, 9).alias("error"),
    )


def _exact_digest_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd17's exact tier: (canonical keeper, dropped doc) pairs by md5
    digest — dd1's grouping restated as pairs so all four tiers share
    one (doc_a, doc_b) axis."""
    dg = load_table(spark, sf_dir, "documents").select(
        F.md5("text").alias("dg"), "doc_id"
    )
    mins = dg.groupBy("dg").agg(F.min("doc_id").alias("doc_a"))
    return (
        dg.join(mins, "dg")
        .filter(F.col("doc_id") != F.col("doc_a"))
        .select("doc_a", F.col("doc_id").alias("doc_b"))
    )


# dd17's tier list, exposed so bench.py can time each tier's OWN pair
# frame (per-tier sub-readings in the bench JSON — a single-tier
# regression can't hide inside dd17's one aggregate number,
# ADVICE/verdict r12). dedup_comparison builds its union from this same
# dict, so the benched plans and the query's plans can never drift.
DD17_TIERS = {
    "exact": _exact_digest_pairs,
    "jaccard3": _shared_jaccard3,
    "minhash": _shared_minhash_pairs,
    "simhash": _shared_simhash_pairs,
}


def dedup_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd17 — the DEDUP-TIER comparison report: the four text dedup
    methods (exact digest dd1, n-gram Jaccard dd2, MinHash-LSH dd3,
    SimHash dd6) measured on ONE axis — pair count, documents a
    drop-newer policy (drop ``doc_b`` of every pair) would remove, and
    the token mass removed, as counts and corpus fractions. This is the
    instrument that decides a pipeline's tier ordering: run the cheap
    exact tier first if it already removes most of what the fuzzy tiers
    would, spend the banded joins only on the remainder.

    Policy note: drop-doc_b is the transitive-free greedy policy —
    deterministic and SQL-stateable (component-canonical removal is
    dd8/dd13's job); a doc caught by two tiers counts in both rows on
    purpose — this is the comparison, not a union execution plan.

    Scale: each tier keeps its own banded/shuffle shape unchanged; the
    rollup adds one method-keyed agg over pair lists (pairs, not corpus)
    and one doc-keyed join for dropped-token mass; totals broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    sh = _shared_shingles(spark, sf_dir)  # one explode serves both fuzzy tiers
    methods = tuple(
        (name, fn(spark, sf_dir)) for name, fn in DD17_TIERS.items()
    )
    pairs = None
    for name, df in methods:
        p = df.select(F.lit(name).alias("method"), "doc_a", "doc_b")
        pairs = p if pairs is None else pairs.unionByName(p)
    tok = docs.select(
        "doc_id", F.size(F.expr(_words(True))).cast("bigint").alias("n_tokens")
    )
    tot = tok.groupBy().agg(
        F.count("*").cast("double").alias("docs"),
        F.sum("n_tokens").cast("double").alias("toks"),
    )
    # Single pass over each tier's pair list: collapsing to (method,
    # doc_b) first lets ONE aggregation yield pair counts, dropped-doc
    # counts, and token mass — two independent aggregate branches here
    # would recompute every banded tier's full pipeline twice (measured
    # 19.4 s -> 14.5 s at sf0.1 when folded into one pass).
    per_b = pairs.groupBy("method", "doc_b").agg(F.count("*").alias("pair_cnt"))
    stats = (
        per_b.join(tok, F.col("doc_b") == F.col("doc_id"))
        .groupBy("method")
        .agg(
            F.sum("pair_cnt").cast("bigint").alias("n_pairs"),
            F.count("*").cast("bigint").alias("n_docs_dropped"),
            F.sum("n_tokens").cast("bigint").alias("tokens_dropped"),
        )
    )
    nd = F.coalesce("n_docs_dropped", F.lit(0)).cast("bigint")
    td = F.coalesce("tokens_dropped", F.lit(0)).cast("bigint")
    grid = spark.createDataFrame([(m,) for m, _ in methods], ["method"])
    return (
        grid.join(stats, "method", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "method",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            nd.alias("n_docs_dropped"),
            td.alias("tokens_dropped"),
            F.round(nd / F.col("docs"), 9).alias("doc_drop_frac"),
            F.round(td / F.col("toks"), 9).alias("token_drop_frac"),
        )
    )


def effective_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd18 — EFFECTIVE dataset size after canonical near-dup removal:
    per source, the raw document/token counts next to what survives
    dd8's component-canonical policy (keep the min-doc_id member of each
    near-dup component), with the survival ratios — the headline "how
    much data do I actually have" number a training-run budget is set
    against, and the per-source selection signal (a source whose token
    survival is low is mostly echo).

    Scale: components come from dd8's banded-LSH + label-propagation
    graph unchanged; the canonical test is ``component_id == doc_id``
    (labels converge to component-minimum doc ids, so no extra
    min-per-component pass is needed); token counts fuse into the
    document scan and one source-keyed agg finishes — the expensive part
    is dd8 itself, reused as-is."""
    comp = _shared_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.size(F.expr(_words(True))).cast("bigint").alias("n_tokens"),
    )
    kept = F.col("component_id") == F.col("doc_id")
    return (
        docs.join(comp, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum(kept.cast("bigint")).alias("kept_docs"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).alias("kept_tokens"),
        )
        .select(
            "source",
            "n_docs",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("kept_docs").cast("bigint").alias("kept_docs"),
            F.col("kept_tokens").cast("bigint").alias("kept_tokens"),
            F.round(F.col("kept_docs") / F.col("n_docs").cast("double"), 9)
            .alias("doc_survival"),
            F.round(F.col("kept_tokens") / F.col("n_tokens").cast("double"), 9)
            .alias("token_survival"),
        )
    )


def soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd19 — SOFT dedup: instead of dropping near-duplicates, every
    document gets a sampling weight 1/|component| from dd8's near-dup
    components (the down-weighting alternative the SemDeDup / D4 line of
    work uses so no text is lost but duplicated content stops dominating
    the training mixture). A component of size 1 keeps weight 1.0; a
    5-way duplicate cluster contributes one document-equivalent spread
    over its members.

    Scale: dd8's components (banded LSH candidates + label propagation,
    never all-pairs) plus ONE groupBy(component_id) for sizes and a
    broadcast-sized join back — the weight table is corpus-row-count but
    the size rollup shuffles only component-cardinality rows. Weight is
    1.0/size — an exact IEEE division both engines compute identically."""
    comp = _shared_components(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(
        F.count("*").cast("bigint").alias("comp_size")
    )
    return (
        comp.join(sizes, "component_id")
        .select(
            "doc_id",
            "component_id",
            "comp_size",
            F.round(F.lit(1.0) / F.col("comp_size").cast("double"), 9).alias(
                "weight"
            ),
        )
    )


def training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx23 — the DEDUP-AWARE TRAINING MANIFEST: the table a training run
    actually consumes, combining tx5's deterministic split, the source
    column, and dd19's soft-dedup weights into per-(split, source) raw
    vs EFFECTIVE token budgets (each doc contributes
    n_tokens / |near-dup component| — duplicated content counts once,
    spread over its copies). The composed end-product of the split,
    dedup, and token-accounting stages.

    Exactness: per-doc effective tokens are one IEEE division rounded to
    9 decimals, accumulated as DECIMAL(28,9) (order-proof), and rounded
    once at the end.

    Scale: dd8's components reused as-is (the expensive part); the rest
    is one doc-keyed broadcast-sized join and a (split, source) agg."""
    comp = _shared_components(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(
        F.count("*").cast("bigint").alias("comp_size")
    )
    weights = comp.join(sizes, "component_id").select("doc_id", "comp_size")
    bucket = F.expr(_SPARK_H.format(x="CAST(doc_id AS STRING)")) % 100
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.expr(_words(True))).cast("bigint").alias("n_tokens"),
        F.when(bucket < 80, "train").when(bucket < 90, "val")
        .otherwise("test").alias("split"),
    )
    joined = docs.join(weights, "doc_id").withColumn(
        "eff",
        F.expr(
            "CAST(round(n_tokens / CAST(comp_size AS DOUBLE), 9)"
            " AS DECIMAL(28,9))"
        ),
    )
    return (
        joined.groupBy("split", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(F.sum("eff").cast("double"), 6).alias("effective_tokens"),
        )
    )


def dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd15 — DUPLICATED-SPAN coverage, the positional twin of tx20's
    novelty and the per-document metric behind exact-substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): the fraction of a document's word positions covered by at
    least one 3-gram occurring MORE THAN ONCE in the corpus — counting
    within-doc repeats, since self-repetition is duplicated text too.
    tx20 asks "how many of my distinct shingles are unique"; dd15 asks
    "how much of my TEXT would an exact-substring deduper delete" —
    they differ exactly when repeated shingles cluster in one span.
    The 3-gram width is the same shingle knob the dd2/dd12 family
    tunes; production substring dedup widens it (50 in the paper)
    without changing the plan.

    Scale: one groupBy(shingle) occurrence-count pass; duplicated
    shingles join back SHINGLE-KEYED (vocabulary-sized — too big to
    broadcast at 100 TB, same as tx20); each duplicated occurrence
    explodes to its 3 token positions, collapses through a
    doc-position distinct, then one doc-keyed agg — every stage
    partial-agg'd, nothing driver-side."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.expr(_words(True)).alias("w")).filter(
        F.size("w") >= 3
    )
    occ = words.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(w) - 2),"
                " i -> concat_ws(' ', slice(w, i, 3)))"
            )
        ).alias("p0", "shingle"),
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "shingle")
    dup = (
        occ.groupBy("shingle")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= 2)
        .select("shingle")
    )
    cov = (
        occ.join(dup, "shingle")
        .select("doc_id", F.explode(F.expr("sequence(pos, pos + 2)")).alias("tok"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_covered"))
    )
    base = words.select("doc_id", F.size("w").cast("bigint").alias("n_tokens"))
    n_cov = F.coalesce("n_covered", F.lit(0)).cast("bigint")
    return base.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        n_cov.alias("n_covered"),
        F.round(n_cov / F.col("n_tokens").cast("double"), 9).alias("dup_fraction"),
    )


_DD15_SQL = f"""
        WITH wrds AS (
          SELECT doc_id, {_words(False)} AS w FROM documents),
        base AS (
          SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens
          FROM wrds WHERE len(w) >= 3),
        occ AS (
          SELECT doc_id, s['pos'] AS pos, s['shingle'] AS shingle FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
                     i -> struct_pack(pos := i,
                            shingle := array_to_string(w[i:i+2], ' ')))) AS s
            FROM wrds WHERE len(w) >= 3)),
        dup AS (
          SELECT shingle FROM occ GROUP BY shingle HAVING COUNT(*) >= 2),
        cov AS (
          SELECT DISTINCT doc_id, pos + d AS tok
          FROM occ JOIN dup USING (shingle)
          CROSS JOIN (SELECT unnest(range(0, 3)) AS d) ds),
        agg AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_covered
          FROM cov GROUP BY doc_id)
        SELECT b.doc_id, b.n_tokens,
               COALESCE(a.n_covered, 0) AS n_covered,
               ROUND(COALESCE(a.n_covered, 0)
                     / CAST(b.n_tokens AS DOUBLE), 9) AS dup_fraction
        FROM base b LEFT JOIN agg a USING (doc_id)"""


_CONTAIN_TAU = 0.5  # max-containment report threshold


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd14 — asymmetric CONTAINMENT detection: for candidate pairs,
    C = |A∩B| / min(|A|, |B|) — the overlap measure that catches a short
    document QUOTED INSIDE a longer one, which symmetric Jaccard
    structurally misses (a 100-shingle doc contained in a 1000-shingle
    doc has Jaccard 0.1 but containment 1.0). The quote/subset case is
    the standard second pass of a web-scrape dedup after dd2/dd3's
    near-identity pass. Output carries both sizes so downstream can tell
    which side is the container.

    Scale: same hot-key-guarded candidate stage as dd2 and the same
    split exact-overlap stage (``_rare_pair_overlap``) — no new join
    shapes, the only change is the reported ratio."""
    shingles = _shingles_df(spark, sf_dir)
    overlap = _rare_pair_overlap(shingles)
    out = overlap.select(
        "doc_a",
        "doc_b",
        F.col("inter").cast("bigint").alias("inter"),
        F.col("sz_a").cast("bigint").alias("sz_a"),
        F.col("sz_b").cast("bigint").alias("sz_b"),
        F.round(
            F.col("inter").cast("double") / F.least("sz_a", "sz_b").cast("double"), 9
        ).alias("containment"),
    )
    return out.filter(F.col("containment") >= _CONTAIN_TAU)


_DD14_SQL = f"""
        WITH x AS (SELECT 1){_DUCK_JACCARD},
        rare AS (
          SELECT s.doc_id, s.shingle FROM shingles s
          JOIN (SELECT shingle FROM shingles
                GROUP BY shingle HAVING COUNT(*) <= {_SHINGLE_DF_CAP}) r
            ON s.shingle = r.shingle
        ),
        cands AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM rare a JOIN rare b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        ),
        cont AS (
          SELECT i.doc_a, i.doc_b,
                 CAST(i.inter AS BIGINT) AS inter,
                 CAST(sa.sz AS BIGINT) AS sz_a,
                 CAST(sb.sz AS BIGINT) AS sz_b,
                 ROUND(CAST(i.inter AS DOUBLE)
                       / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE), 9) AS containment
          FROM inter i
          JOIN sizes sa ON sa.doc_id = i.doc_a
          JOIN sizes sb ON sb.doc_id = i.doc_b
          JOIN cands c ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b)
        SELECT * FROM cont WHERE containment >= {_CONTAIN_TAU}"""


def _dd13_oracle() -> str:
    from .text import _DUCK_WORDS  # noqa: PLC0415

    return f"""
        WITH RECURSIVE x AS (SELECT 1){_DUCK_JACCARD},
        {_DUCK_MINHASH_SIG},
        {_DUCK_BANDS},
        cands AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM bands x JOIN bands y
            ON x.band_idx = y.band_idx AND x.band_key = y.band_key
           AND x.doc_id < y.doc_id
        ),
        pairs AS (
          SELECT j.doc_a, j.doc_b
          FROM jac j JOIN cands c ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
          WHERE j.jaccard >= {_JACCARD_THRESHOLD}
        ),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL
          SELECT doc_b, doc_a FROM pairs
        ),
        reach AS (
          SELECT doc_id AS start, doc_id AS node FROM documents
          UNION
          SELECT r.start, e.dst FROM reach r JOIN edges e ON e.src = r.node
        ),
        comp AS (
          SELECT start AS doc_id, MIN(node) AS component_id
          FROM reach GROUP BY start
        ),
        quality AS (
          SELECT doc_id,
                 ROUND(CAST(len(list_distinct(words)) AS DOUBLE)
                       / CAST(len(words) AS DOUBLE), 9) AS quality
          FROM (SELECT doc_id, {_DUCK_WORDS} AS words FROM documents)
        ),
        ranked AS (
          SELECT c.doc_id, c.component_id, q.quality,
                 ROW_NUMBER() OVER (PARTITION BY c.component_id
                                    ORDER BY q.quality DESC, c.doc_id ASC) AS rn,
                 COUNT(*) OVER (PARTITION BY c.component_id) AS n_members
          FROM comp c JOIN quality q USING (doc_id)
        )
        SELECT doc_id, component_id, CAST(n_members AS BIGINT) AS n_members,
               quality, rn = 1 AS kept
        FROM ranked"""


_BLOOM_M = 4096  # filter bits
_BLOOM_K = 4     # hash functions


def bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd11 — BLOOM-FILTER membership pre-screen for incremental dedup:
    the seen corpus (dd10's split) folds its digests into an m-bit/k-hash
    Bloom filter; each incoming document is bloom-screened before any
    digest join. Output is the per-source audit a deployment watches:
    exact dup count, bloom positives, false positives, realized FPR next
    to the theoretical (1 - e^(-kn/m))^k — the number that says when the
    filter needs resizing. Bloom misses are impossible (no false
    negatives) and asserted zero.

    Scale: this is the primitive that makes dd10 cheap at 100 TB — the
    filter is m BITS regardless of index size and broadcasts to every
    executor; ONLY bloom-positive docs (true dups + FPR fraction) pay
    the digest-keyed SHUFFLE join against the full index (the index
    outgrows any broadcast — the join is hinted shuffle_hash and
    plan-pinned by ``test_dd11_positives_only_shuffle_join``).
    Bloom-negative docs never touch the index: the same deterministic
    md5-derived bits build and probe the filter, so a digest present in
    the index ALWAYS probes all-ones — no false negatives, structurally.
    ``bloom_misses`` is therefore 0 by construction here (reported from
    the negative branch, where is_dup is definitionally false);
    ``test_bloom_prefilter_no_false_negatives`` re-derives it from the
    full join at fixture scale. Deterministic bit positions also make
    the filter itself engine-exact for the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_SPARK_H.format(x="CAST(doc_id AS STRING)")) % 100
    tagged = docs.select(
        "doc_id", "source", F.md5("text").alias("digest"), bucket.alias("bucket")
    )
    seen = tagged.filter(F.col("bucket") < _INCR_SPLIT).select("digest").distinct()

    def bits(i: int) -> "F.Column":
        seeded = "CONCAT('%d:', digest)" % i
        return F.expr(f"CAST({_SPARK_H.format(x=seeded)} % {_BLOOM_M} AS INT)")

    bit_arr = F.array(*[bits(i) for i in range(_BLOOM_K)])
    set_bits = seen.select(F.explode(bit_arr).alias("bit")).distinct()
    seen_stats = seen.agg(F.count("*").alias("n_seen"))

    new = tagged.filter(F.col("bucket") >= _INCR_SPLIT)
    probe = new.select("doc_id", "source", "digest",
                       F.explode(bit_arr).alias("bit"))
    screened = (
        probe.join(F.broadcast(set_bits.withColumn("hit", F.lit(1))), "bit", "left")
        .groupBy("doc_id", "source", "digest")
        .agg((F.sum(F.coalesce("hit", F.lit(0))) == _BLOOM_K).alias("bloom_pos"))
    )
    pos = screened.filter(F.col("bloom_pos"))
    neg = screened.filter(~F.col("bloom_pos"))
    # Only positives meet the index, and as a digest-keyed shuffle join:
    # the index is data-sized at scale, so broadcasting it would OOM —
    # the hint pins the shape Catalyst must keep even when fixture-scale
    # size stats would auto-broadcast.
    pos_checked = pos.join(
        seen.withColumn("is_dup", F.lit(1)).hint("shuffle_hash"), "digest", "left"
    )
    checked = pos_checked.unionByName(
        # no false negatives by construction: build and probe use the
        # same deterministic bits, so a negative is never in the index
        neg.withColumn("is_dup", F.lit(None).cast("int"))
    )
    agg = checked.groupBy("source").agg(
        F.count("*").alias("n_new"),
        F.sum(F.coalesce("is_dup", F.lit(0))).alias("n_dup"),
        F.sum(F.col("bloom_pos").cast("bigint")).alias("bloom_positive"),
        F.sum((F.col("bloom_pos") & F.col("is_dup").isNull()).cast("bigint"))
        .alias("false_positives"),
        F.sum(((~F.col("bloom_pos")) & F.col("is_dup").isNotNull()).cast("bigint"))
        .alias("bloom_misses"),
    )
    clean = F.col("n_new") - F.col("n_dup")
    theo = F.pow(
        F.lit(1.0) - F.exp(F.lit(-float(_BLOOM_K)) * F.col("n_seen") / _BLOOM_M),
        F.lit(float(_BLOOM_K)),
    )
    return agg.crossJoin(F.broadcast(seen_stats)).select(
        "source", "n_new", "n_dup", "bloom_positive", "false_positives",
        "bloom_misses",
        F.when(clean > 0,
               F.round(F.col("false_positives") / clean.cast("double"), 6))
        .alias("realized_fpr"),
        F.round(theo, 6).alias("theoretical_fpr"),
    )


_DD11_SQL = f"""
        WITH tagged AS (
          SELECT doc_id, source, md5(text) AS digest,
                 {_DUCK_H.format(x="CAST(doc_id AS VARCHAR)")} % 100 AS bucket
          FROM documents),
        seen AS (
          SELECT DISTINCT digest FROM tagged WHERE bucket < {_INCR_SPLIT}),
        seen_stats AS (SELECT COUNT(*) AS n_seen FROM seen),
        ks AS (SELECT unnest(range(0, {_BLOOM_K})) AS i),
        set_bits AS (
          SELECT DISTINCT
                 {_DUCK_H.format(x="CAST(i AS VARCHAR) || ':' || digest")}
                   % {_BLOOM_M} AS bit
          FROM seen CROSS JOIN ks),
        new_docs AS (
          SELECT doc_id, source, digest FROM tagged
          WHERE bucket >= {_INCR_SPLIT}),
        screened AS (
          SELECT n.doc_id, n.source, n.digest,
                 SUM(CASE WHEN sb.bit IS NOT NULL THEN 1 ELSE 0 END)
                   = {_BLOOM_K} AS bloom_pos
          FROM new_docs n
          CROSS JOIN ks
          LEFT JOIN set_bits sb
            ON sb.bit = {_DUCK_H.format(
                x="CAST(ks.i AS VARCHAR) || ':' || n.digest")} % {_BLOOM_M}
          GROUP BY 1, 2, 3),
        checked AS (
          SELECT sc.*, s.digest IS NOT NULL AS is_dup
          FROM screened sc LEFT JOIN seen s ON sc.digest = s.digest),
        agg AS (
          SELECT source,
                 COUNT(*) AS n_new,
                 SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS n_dup,
                 SUM(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS bloom_positive,
                 SUM(CASE WHEN bloom_pos AND NOT is_dup THEN 1 ELSE 0 END)
                   AS false_positives,
                 SUM(CASE WHEN NOT bloom_pos AND is_dup THEN 1 ELSE 0 END)
                   AS bloom_misses
          FROM checked GROUP BY 1)
        SELECT source,
               CAST(n_new AS BIGINT) AS n_new,
               CAST(n_dup AS BIGINT) AS n_dup,
               CAST(bloom_positive AS BIGINT) AS bloom_positive,
               CAST(false_positives AS BIGINT) AS false_positives,
               CAST(bloom_misses AS BIGINT) AS bloom_misses,
               CASE WHEN n_new - n_dup > 0
                    THEN ROUND(CAST(false_positives AS DOUBLE)
                               / CAST(n_new - n_dup AS DOUBLE), 6) END
                 AS realized_fpr,
               ROUND(POW(1.0 - EXP(-{float(_BLOOM_K)} * n_seen
                                   / {_BLOOM_M}), {float(_BLOOM_K)}), 6)
                 AS theoretical_fpr
        FROM agg CROSS JOIN seen_stats"""


ORACLES = {
    "tx20_ngram_novelty": _TX20_SQL,
    "dd14_containment_pairs": _DD14_SQL,
    "dd15_dup_span_coverage": _DD15_SQL,
    "dd16_minhash_calibration": f"""
        WITH x AS (SELECT 1){_DUCK_JACCARD},
        {_DUCK_MINHASH_SIG},
        {_DUCK_BANDS},
        cands AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM bands x JOIN bands y
            ON x.band_idx = y.band_idx AND x.band_key = y.band_key
           AND x.doc_id < y.doc_id
        ),
        est AS (
          SELECT c.doc_a, c.doc_b,
                 ({" + ".join(f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
                              for i in range(_N_HASHES))})
                   / {float(_N_HASHES)} AS est_j
          FROM cands c
          JOIN sig a ON a.doc_id = c.doc_a
          JOIN sig b ON b.doc_id = c.doc_b
        )
        SELECT e.doc_a, e.doc_b,
               ROUND(e.est_j, 9) AS est_jaccard,
               ROUND(COALESCE(j.jaccard, 0.0), 9) AS jaccard,
               ROUND(e.est_j - COALESCE(j.jaccard, 0.0), 9) AS error
        FROM est e
        LEFT JOIN jac j ON j.doc_a = e.doc_a AND j.doc_b = e.doc_b""",
    "dd13_component_keep_best": _dd13_oracle(),
    "dd12_winnow_neardup": _dd12_oracle(),
    "dd11_bloom_prefilter": _DD11_SQL,
    "dd10_incremental_dedup": f"""
        WITH tagged AS (
          SELECT doc_id, md5(text) AS digest,
                 {_DUCK_H.format(x="CAST(doc_id AS VARCHAR)")} % 100 AS bucket
          FROM documents),
        seen AS (
          SELECT digest, MIN(doc_id) AS seen_canonical
          FROM tagged WHERE bucket < {_INCR_SPLIT} GROUP BY digest),
        new AS (
          SELECT doc_id, digest FROM tagged WHERE bucket >= {_INCR_SPLIT}),
        ranked AS (
          SELECT n.doc_id, n.digest, s.seen_canonical,
                 MIN(n.doc_id) OVER (PARTITION BY n.digest) AS first_doc
          FROM new n LEFT JOIN seen s ON n.digest = s.digest)
        SELECT doc_id,
               CASE WHEN seen_canonical IS NOT NULL THEN 'dup_of_seen'
                    WHEN doc_id <> first_doc THEN 'dup_in_shard'
                    ELSE 'kept' END AS status,
               COALESCE(seen_canonical, first_doc) AS canonical_doc_id
        FROM ranked""",
    "dd1_exact_dedup": """
        SELECT md5(text) AS digest, MIN(doc_id) AS canonical_doc_id, COUNT(*) AS num_docs
        FROM documents GROUP BY md5(text)""",
    "dd2_ngram_jaccard_pairs": f"""
        WITH x AS (SELECT 1){_DUCK_JACCARD},
        rare AS (
          SELECT s.doc_id, s.shingle FROM shingles s
          JOIN (SELECT shingle FROM shingles
                GROUP BY shingle HAVING COUNT(*) <= {_SHINGLE_DF_CAP}) r
            ON s.shingle = r.shingle
        ),
        cands AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM rare a JOIN rare b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        )
        SELECT j.doc_a, j.doc_b, ROUND(j.jaccard, 9) AS jaccard
        FROM jac j JOIN cands c ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
        WHERE j.jaccard >= {_JACCARD_THRESHOLD}""",
    "dd3_minhash_lsh_pairs": f"""
        WITH x AS (SELECT 1){_DUCK_JACCARD},
        {_DUCK_MINHASH_SIG},
        {_DUCK_BANDS},
        cands AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM bands x JOIN bands y
            ON x.band_idx = y.band_idx AND x.band_key = y.band_key
           AND x.doc_id < y.doc_id
        )
        SELECT j.doc_a, j.doc_b, ROUND(j.jaccard, 9) AS jaccard
        FROM jac j JOIN cands c ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
        WHERE j.jaccard >= {_JACCARD_THRESHOLD}""",
    "dd8_neardup_components": f"""
        WITH RECURSIVE x AS (SELECT 1){_DUCK_JACCARD},
        {_DUCK_MINHASH_SIG},
        {_DUCK_BANDS},
        cands AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM bands x JOIN bands y
            ON x.band_idx = y.band_idx AND x.band_key = y.band_key
           AND x.doc_id < y.doc_id
        ),
        pairs AS (
          SELECT j.doc_a, j.doc_b
          FROM jac j JOIN cands c ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
          WHERE j.jaccard >= {_JACCARD_THRESHOLD}
        ),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL
          SELECT doc_b, doc_a FROM pairs
        ),
        reach AS (
          SELECT doc_id AS start, doc_id AS node FROM documents
          UNION
          SELECT r.start, e.dst FROM reach r JOIN edges e ON e.src = r.node
        )
        SELECT start AS doc_id, MIN(node) AS component_id
        FROM reach GROUP BY start""",
    "dd7_norm_dedup_keep_best": """
        WITH scored AS (
          SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS digest,
                 doc_id, CAST(length(text) AS BIGINT) AS n_chars_raw
          FROM documents
        ),
        ranked AS (
          SELECT digest, doc_id, n_chars_raw,
                 ROW_NUMBER() OVER (PARTITION BY digest
                                    ORDER BY n_chars_raw DESC, doc_id ASC) AS rn,
                 COUNT(*) OVER (PARTITION BY digest) AS num_docs,
                 MAX(n_chars_raw) OVER (PARTITION BY digest) AS max_chars
          FROM scored
        )
        SELECT digest, CAST(num_docs AS BIGINT) AS num_docs,
               CAST(max_chars AS BIGINT) AS max_chars, doc_id AS kept_doc_id
        FROM ranked WHERE rn = 1""",
    "dd4_simhash_signatures": f"""
        WITH toks AS (
          SELECT doc_id, {_DUCK_H.format(x='tok')} AS h
          FROM (SELECT doc_id, unnest({_words(False)}) AS tok FROM documents)
        ),
        bits AS (
          SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j)
          GROUP BY doc_id, j
        )
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id""",
    "dd6_simhash_neardup": f"""
        WITH toks AS (
          SELECT doc_id, {_DUCK_H.format(x='tok')} AS h
          FROM (SELECT doc_id, unnest({_words(False)}) AS tok FROM documents)
        ),
        bits AS (
          SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j)
          GROUP BY doc_id, j
        ),
        sigs AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN s > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id
        ),
        bands AS (
          SELECT doc_id, simhash, band_idx,
                 (simhash >> (15 * band_idx)) & 32767 AS band_key
          FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, {_N_SIM_BANDS - 1})) AS band_idx)
        ),
        cands AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                          x.simhash AS sig_a, y.simhash AS sig_b
          FROM bands x JOIN bands y
            ON x.band_idx = y.band_idx AND x.band_key = y.band_key
           AND x.doc_id < y.doc_id
        )
        SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
        FROM cands WHERE bit_count(xor(sig_a, sig_b)) <= {_HAMMING_MAX}""",
}


# dd17's oracle composes the three fuzzy tiers' full oracle texts as
# nested WITH-subqueries (DuckDB scopes each), plus the inline exact tier.
ORACLES["dd17_dedup_comparison"] = f"""
        WITH pairs AS (
          SELECT 'exact' AS method, m.doc_a, t.doc_id AS doc_b
          FROM (SELECT md5(text) AS dg, doc_id FROM documents) t
          JOIN (SELECT md5(text) AS dg, MIN(doc_id) AS doc_a
                FROM documents GROUP BY 1) m USING (dg)
          WHERE t.doc_id <> m.doc_a
          UNION ALL
          SELECT 'jaccard3', doc_a, doc_b
          FROM ({ORACLES["dd2_ngram_jaccard_pairs"]})
          UNION ALL
          SELECT 'minhash', doc_a, doc_b
          FROM ({ORACLES["dd3_minhash_lsh_pairs"]})
          UNION ALL
          SELECT 'simhash', doc_a, doc_b
          FROM ({ORACLES["dd6_simhash_neardup"]})),
        tok AS (
          SELECT doc_id, CAST(len({_words(False)}) AS BIGINT) AS n_tokens
          FROM documents),
        tot AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS docs,
                 CAST(SUM(n_tokens) AS DOUBLE) AS toks FROM tok),
        grid(method) AS (
          VALUES ('exact'), ('jaccard3'), ('minhash'), ('simhash')),
        np AS (
          SELECT method, CAST(COUNT(*) AS BIGINT) AS n_pairs
          FROM pairs GROUP BY method),
        dr AS (
          SELECT method, CAST(COUNT(*) AS BIGINT) AS n_docs_dropped,
                 CAST(SUM(n_tokens) AS BIGINT) AS tokens_dropped
          FROM (SELECT DISTINCT method, doc_b FROM pairs) d
          JOIN tok ON tok.doc_id = d.doc_b
          GROUP BY method)
        SELECT g.method, COALESCE(np.n_pairs, 0) AS n_pairs,
               COALESCE(dr.n_docs_dropped, 0) AS n_docs_dropped,
               COALESCE(dr.tokens_dropped, 0) AS tokens_dropped,
               ROUND(COALESCE(dr.n_docs_dropped, 0) / t.docs, 9)
                 AS doc_drop_frac,
               ROUND(COALESCE(dr.tokens_dropped, 0) / t.toks, 9)
                 AS token_drop_frac
        FROM grid g LEFT JOIN np USING (method)
        LEFT JOIN dr USING (method) CROSS JOIN tot t"""


# dd18's oracle nests dd8's recursive-closure component oracle verbatim.
ORACLES["dd18_effective_dataset"] = f"""
        WITH comp AS ({ORACLES["dd8_neardup_components"]}),
        tok AS (
          SELECT doc_id, source,
                 CAST(len({_words(False)}) AS BIGINT) AS n_tokens
          FROM documents)
        SELECT t.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(t.n_tokens) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN c.component_id = t.doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
               CAST(SUM(CASE WHEN c.component_id = t.doc_id
                             THEN t.n_tokens ELSE 0 END) AS BIGINT)
                 AS kept_tokens,
               ROUND(SUM(CASE WHEN c.component_id = t.doc_id
                              THEN 1 ELSE 0 END)
                     / CAST(COUNT(*) AS DOUBLE), 9) AS doc_survival,
               ROUND(SUM(CASE WHEN c.component_id = t.doc_id
                              THEN t.n_tokens ELSE 0 END)
                     / CAST(SUM(t.n_tokens) AS DOUBLE), 9) AS token_survival
        FROM tok t JOIN comp c ON c.doc_id = t.doc_id
        GROUP BY t.source"""

# tx23's oracle nests dd8's closure + tx5's split + the token accounting.
ORACLES["tx23_training_manifest"] = f"""
        WITH comp AS ({ORACLES["dd8_neardup_components"]}),
        sizes AS (
          SELECT component_id, CAST(COUNT(*) AS BIGINT) AS comp_size
          FROM comp GROUP BY component_id),
        d AS (
          SELECT doc_id, source,
                 CAST(len({_words(False)}) AS BIGINT) AS n_tokens,
                 {_DUCK_H.format(x="CAST(doc_id AS VARCHAR)")} % 100 AS bucket
          FROM documents),
        joined AS (
          SELECT CASE WHEN d.bucket < 80 THEN 'train'
                      WHEN d.bucket < 90 THEN 'val' ELSE 'test' END AS split,
                 d.source, d.n_tokens,
                 CAST(round(d.n_tokens / CAST(s.comp_size AS DOUBLE), 9)
                      AS DECIMAL(28,9)) AS eff
          FROM d
          JOIN comp c ON c.doc_id = d.doc_id
          JOIN sizes s ON s.component_id = c.component_id)
        SELECT split, source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               ROUND(CAST(SUM(eff) AS DOUBLE), 6) AS effective_tokens
        FROM joined GROUP BY 1, 2"""

# dd19's oracle nests dd8's recursive-closure component oracle verbatim.
ORACLES["dd19_soft_dedup_weights"] = f"""
        WITH comp AS ({ORACLES["dd8_neardup_components"]}),
        sizes AS (
          SELECT component_id, CAST(COUNT(*) AS BIGINT) AS comp_size
          FROM comp GROUP BY component_id)
        SELECT c.doc_id, c.component_id, s.comp_size,
               ROUND(1.0 / CAST(s.comp_size AS DOUBLE), 9) AS weight
        FROM comp c JOIN sizes s USING (component_id)"""

SPARK_QUERIES = {
    "dd1_exact_dedup": exact_dedup,
    "dd10_incremental_dedup": incremental_dedup,
    "dd11_bloom_prefilter": bloom_prefilter,
    "dd12_winnow_neardup": winnow_neardup_pairs,
    "dd2_ngram_jaccard_pairs": ngram_jaccard_pairs,
    "dd3_minhash_lsh_pairs": minhash_lsh_pairs,
    "dd4_simhash_signatures": simhash_signatures,
    "dd6_simhash_neardup": simhash_neardup_pairs,
    "dd7_norm_dedup_keep_best": norm_dedup_keep_best,
    "dd8_neardup_components": neardup_components,
    "dd13_component_keep_best": component_keep_best,
    "dd14_containment_pairs": containment_pairs,
    "dd15_dup_span_coverage": dup_span_coverage,
    "dd16_minhash_calibration": minhash_calibration,
    "dd17_dedup_comparison": dedup_comparison,
    "dd18_effective_dataset": effective_dataset,
    "dd19_soft_dedup_weights": soft_dedup_weights,
    "tx20_ngram_novelty": ngram_novelty,
    "tx23_training_manifest": training_manifest,
}


def component_size_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd20 — DUPLICATE-CLUSTER SIZE SPECTRUM: the distribution of dd8's
    near-dup component sizes — how much of the corpus sits in singletons
    vs small clusters vs mega-clusters. This is the shape a dedup
    operator reads BEFORE choosing policy: a heavy singleton mass means
    exact-keep-one suffices; a fat tail of large clusters is where
    soft-dedup weighting (dd19) or quality-keep-best (dd13) earn their
    cost, and ``removable_docs`` prices each size class's removal win.

    Exactness: pure integer counts off the component table; doc_share
    is one final division rounded to 9.

    Scale: two keyed aggregations over doc-cardinality rows (component
    sizes, then the size histogram — bounded by max component size);
    the corpus total is a one-row broadcast."""
    comp = _shared_components(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(
        F.count("*").cast("bigint").alias("comp_size")
    )
    tot = comp.agg(F.count("*").cast("bigint").alias("n_total"))
    return (
        sizes.groupBy("comp_size")
        .agg(F.count("*").cast("bigint").alias("n_components"))
        .crossJoin(F.broadcast(tot))
        .select(
            "comp_size",
            "n_components",
            (F.col("comp_size") * F.col("n_components")).cast("bigint")
            .alias("n_docs"),
            ((F.col("comp_size") - 1) * F.col("n_components")).cast("bigint")
            .alias("removable_docs"),
            F.round(
                (F.col("comp_size") * F.col("n_components"))
                / F.col("n_total").cast("double"),
                9,
            ).alias("doc_share"),
        )
    )


# dd20's oracle nests dd8's recursive-closure component oracle verbatim.
ORACLES["dd20_component_size_spectrum"] = f"""
        WITH comp AS ({ORACLES["dd8_neardup_components"]}),
        sizes AS (
          SELECT component_id, CAST(COUNT(*) AS BIGINT) AS comp_size
          FROM comp GROUP BY component_id),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM comp)
        SELECT s.comp_size,
               CAST(COUNT(*) AS BIGINT) AS n_components,
               CAST(s.comp_size * COUNT(*) AS BIGINT) AS n_docs,
               CAST((s.comp_size - 1) * COUNT(*) AS BIGINT)
                 AS removable_docs,
               ROUND(s.comp_size * COUNT(*) / CAST(t.n_total AS DOUBLE), 9)
                 AS doc_share
        FROM sizes s CROSS JOIN tot t
        GROUP BY s.comp_size, t.n_total"""

SPARK_QUERIES["dd20_component_size_spectrum"] = component_size_spectrum


# (n_bands, rows_per_band) configurations over the SAME 16-hash signature:
# more bands with fewer rows = more candidates / higher recall (collision
# probability 1-(1-J^r)^b), fewer wider bands = cheaper / more precise.
_DD21_CONFIGS = ((16, 1), (8, 2), (4, 4))
# Hot-bucket cap for the sweep's candidate generator: a single-row band
# key is ONE minhash, so any high-document-frequency shingle that wins a
# permutation's min puts its ENTIRE posting list into one bucket — a
# bucket that grows with the corpus, making the (16,1) config's pair
# join quadratic (measured alpha 1.18 over the sf0.1 -> sf1 decade
# before the cap). Buckets above the cap are excluded from the pair
# join and accounted arithmetically instead (n_hot_buckets /
# n_hot_pairs = sum of C(size, 2)) — the published skipped volume IS
# the sweep's cost verdict on that band shape, not a silent drop.
_DD21_BUCKET_CAP = 128


def lsh_band_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd21 — LSH BAND-SHAPE SENSITIVITY: dd3's banding question answered
    with data instead of the collision formula. For each (bands x rows)
    split of the one shared 16-minhash signature, the sweep reports the
    candidate volume (what the verify stage pays), how many candidates
    verify at jaccard >= 0.5, and how many of the exact baseline's true
    pairs (dd2) the banding surfaced — the precision/recall/cost table an
    operator reads before fixing b x r for a 100 TB dedup run. The (8,2)
    row reproduces dd3 exactly (same signature, same verify), pinning the
    sweep to the production path.

    Scale: ONE signature pass (dd3's groupBy) over ONE persisted shingle
    frame (_shared_shingles — the sweep consumes shingles five times:
    signature, verify sides, truth generation; measured 24.5 s -> 14.4 s
    at sf0.1), one exploded band frame tagged by config self-joined on
    (config, band_idx, band_key) — banded candidates only, never
    all-pairs — and ONE exact-Jaccard verify over the distinct union of
    candidates (configs are nested by construction: a (4,4) collision
    implies (8,2) implies (16,1), so the union is just the (16,1) set;
    each config then counts its own subset). Buckets larger than
    ``_DD21_BUCKET_CAP`` are excluded from the pair join and published
    as n_hot_buckets / n_hot_pairs instead (see the cap's comment):
    with the cap the surfaced-candidate volume is bounded by
    cap x corpus per band, restoring linear scaling; the skipped pair
    count is the sweep's own evidence of what the loose band shape
    would have cost."""
    shingles = _shared_shingles(spark, sf_dir)
    sh = shingles.withColumn("hx", F.expr(_SPARK_H.format(x="shingle")) % _P)
    sig = _minhash_sig(sh)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(nb).alias("n_bands"),
                        F.lit(j).alias("band_idx"),
                        F.concat_ws(
                            "_", *[F.col(f"h{j * r + k}") for k in range(r)]
                        ).alias("band_key"),
                    )
                    for nb, r in _DD21_CONFIGS
                    for j in range(nb)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.n_bands", "b.band_idx", "b.band_key")
    # Bucket sizes ride a window over the ONE band shuffle instead of a
    # separate groupBy + anti-join: the r15 optimization round found the
    # signature aggregation (the shingle scan + 16-way min groupBy)
    # recomputed SEVEN times in the old plan (bucket census, hot set,
    # both self-join sides, and again under the verify/scoring reuse of
    # the candidate frame). Partitioning once by (config, band_idx,
    # band_key) serves the census (count over the partition), the
    # hot-bucket stats, the cold filter, AND the pair self-join (both
    # sides cluster on the same keys, so the exchange is shared) —
    # guide §2.4: two operations keyed the same way share one exchange.
    wb = Window.partitionBy("n_bands", "band_idx", "band_key")
    sized = bands.withColumn("bsz", F.count("*").over(wb).cast("bigint"))
    from ..corpus.corpus_sql import IDIV  # noqa: PLC0415

    hot_stats = (
        sized.filter(F.col("bsz") > _DD21_BUCKET_CAP)
        .groupBy("n_bands", "band_idx", "band_key")
        .agg(F.max("bsz").alias("bsz"))
        .groupBy("n_bands")
        .agg(
            F.count("*").cast("bigint").alias("n_hot_buckets"),
            F.expr(IDIV("SUM(bsz * (bsz - 1))", 2)).alias("n_hot_pairs"),
        )
    )
    cold = sized.filter(F.col("bsz") <= _DD21_BUCKET_CAP).select(
        "doc_id", "n_bands", "band_idx", "band_key"
    )
    # One candidate join feeds BOTH the exact verify and the per-config
    # scoring: the per-pair config list (collect_set dedupes multi-band
    # collisions exactly like the old per-config distinct) is exploded
    # back AFTER jaccard/truth attach, so the expensive pair join is
    # planned once and AQE reuses its (doc_a, doc_b) exchange for the
    # verify side. (A fully linear variant that carried cfgs THROUGH
    # the shingle-overlap join was A/B-tested and reverted: it needs a
    # LEFT overlap join to keep zero-overlap candidates, which keeps
    # every expanded pair x shingle row alive into the aggregate where
    # the inner join drops non-matches first — measured 9.0 s vs 7.0 s
    # converged at sf0.1.)
    pair_cfgs = (
        cold.alias("x")
        .join(
            cold.alias("y"),
            (F.col("x.n_bands") == F.col("y.n_bands"))
            & (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.n_bands").alias("n_bands"),
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.collect_set("n_bands").alias("cfgs"))
    )
    jac = _verify_jaccard(pair_cfgs.select("doc_a", "doc_b"), shingles)
    truth = _shared_jaccard3(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("is_true")
    )
    n_true = truth.agg(F.count("*").cast("bigint").alias("n_true"))
    scored = (
        pair_cfgs.join(jac, ["doc_a", "doc_b"], "left")
        .join(truth, ["doc_a", "doc_b"], "left")
        .select(
            F.explode("cfgs").alias("n_bands"), "jaccard", "is_true"
        )
        .groupBy("n_bands")
        .agg(
            F.count("*").cast("bigint").alias("n_candidates"),
            F.sum(
                F.when(F.col("jaccard") >= _JACCARD_THRESHOLD, 1).otherwise(0)
            ).cast("bigint").alias("n_verified"),
            F.sum(F.coalesce(F.col("is_true"), F.lit(0))).cast("bigint")
            .alias("n_true_found"),
        )
    )
    return (
        scored.join(F.broadcast(hot_stats), "n_bands", "left")
        .crossJoin(F.broadcast(n_true))
        .select(
            F.col("n_bands").cast("bigint").alias("n_bands"),
            (F.lit(_N_HASHES) / F.col("n_bands")).cast("bigint").alias("rows_per_band"),
            "n_candidates",
            F.coalesce(F.col("n_hot_buckets"), F.lit(0)).cast("bigint")
            .alias("n_hot_buckets"),
            F.coalesce(F.col("n_hot_pairs"), F.lit(0)).cast("bigint")
            .alias("n_hot_pairs"),
            "n_verified",
            "n_true_found",
            "n_true",
        )
    )


def _dd21_bands_sql() -> str:
    selects = []
    for nb, r in _DD21_CONFIGS:
        for j in range(nb):
            key = " || '_' || ".join(
                f"CAST(h{j * r + k} AS STRING)" for k in range(r)
            )
            selects.append(
                f"  SELECT doc_id, {nb} AS n_bands, {j} AS band_idx,"
                f" {key} AS band_key FROM sig"
            )
    return "bands21 AS (\n" + "\n  UNION ALL\n".join(selects) + "\n)"


ORACLES["dd21_lsh_band_sensitivity"] = f"""
        WITH x AS (SELECT 1){_DUCK_JACCARD},
        {_DUCK_MINHASH_SIG},
        {_dd21_bands_sql()},
        bsize AS (
          SELECT n_bands, band_idx, band_key,
                 CAST(COUNT(*) AS BIGINT) AS bsz
          FROM bands21 GROUP BY 1, 2, 3
        ),
        hot AS (SELECT * FROM bsize WHERE bsz > {_DD21_BUCKET_CAP}),
        hotstats AS (
          SELECT n_bands,
                 CAST(COUNT(*) AS BIGINT) AS n_hot_buckets,
                 CAST(FLOOR(SUM(bsz * (bsz - 1)) / CAST(2 AS DOUBLE))
                      AS BIGINT) AS n_hot_pairs
          FROM hot GROUP BY n_bands
        ),
        cold AS (
          SELECT b.* FROM bands21 b
          LEFT JOIN hot h
            ON b.n_bands = h.n_bands AND b.band_idx = h.band_idx
           AND b.band_key = h.band_key
          WHERE h.band_key IS NULL
        ),
        cands AS (
          SELECT DISTINCT x.n_bands, x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM cold x JOIN cold y
            ON x.n_bands = y.n_bands AND x.band_idx = y.band_idx
           AND x.band_key = y.band_key AND x.doc_id < y.doc_id
        ),
        truth AS (
          SELECT j.doc_a, j.doc_b
          FROM jac j
          JOIN (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM (SELECT s.doc_id, s.shingle FROM shingles s
                      JOIN (SELECT shingle FROM shingles GROUP BY shingle
                            HAVING COUNT(*) <= {_SHINGLE_DF_CAP}) r
                        ON s.shingle = r.shingle) a
                JOIN (SELECT s.doc_id, s.shingle FROM shingles s
                      JOIN (SELECT shingle FROM shingles GROUP BY shingle
                            HAVING COUNT(*) <= {_SHINGLE_DF_CAP}) r
                        ON s.shingle = r.shingle) b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id) c
            ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
          WHERE j.jaccard >= {_JACCARD_THRESHOLD}
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth)
        SELECT CAST(c.n_bands AS BIGINT) AS n_bands,
               CAST({_N_HASHES} / c.n_bands AS BIGINT) AS rows_per_band,
               CAST(COUNT(*) AS BIGINT) AS n_candidates,
               CAST(COALESCE(MAX(h.n_hot_buckets), 0) AS BIGINT)
                 AS n_hot_buckets,
               CAST(COALESCE(MAX(h.n_hot_pairs), 0) AS BIGINT)
                 AS n_hot_pairs,
               CAST(SUM(CASE WHEN j.jaccard >= {_JACCARD_THRESHOLD}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_verified,
               CAST(SUM(CASE WHEN t.doc_a IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_true_found,
               tot.n_true
        FROM cands c
        LEFT JOIN jac j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
        LEFT JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
        LEFT JOIN hotstats h ON h.n_bands = c.n_bands
        CROSS JOIN tot
        GROUP BY c.n_bands, tot.n_true"""

SPARK_QUERIES["dd21_lsh_band_sensitivity"] = lsh_band_sensitivity


def dup_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd22 — DUPLICATION x QUALITY interaction: tx2's quality-filter
    outcomes profiled by NEAR-DUP component size ("are duplicated
    documents worse?") — the curation question behind dedup-before-filter
    vs filter-before-dedup ordering. Per dup-size bucket (unique / 2 /
    3-5 / 6+ members in dd8's MinHash-LSH component): doc count, how
    many pass the tx2 keep filter, the keep rate in exact ppm, and
    floor-mean token length. Boilerplate and spam concentrate in large
    dup clusters; if keep_ppm falls with cluster size, running dedup
    FIRST saves the quality filter's compute. (The fixtures carry
    near-dup structure but almost no byte-exact dups, so components —
    not md5 classes — are the duplication signal worth profiling.)

    Exactness: counts, ppm, and floor-means are pure integer arithmetic
    (a13's py2 floor-division discipline) — no float column published.

    Scale: dd8's component labels are doc-keyed; component sizes are one
    groupBy over them; the quality join is doc-keyed against tx2's
    stateless projection; the bucket rollup is a 4-group aggregate."""
    from ..corpus.corpus_sql import IDIV  # noqa: PLC0415
    from .text import quality_score  # noqa: PLC0415

    comp = _shared_components(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(F.count("*").alias("dup_count"))
    q = quality_score(spark, sf_dir).select("doc_id", "n_tokens", "keep")
    bucket = (
        F.when(F.col("dup_count") == 1, "unique")
        .when(F.col("dup_count") == 2, "2")
        .when(F.col("dup_count") <= 5, "3_5")
        .otherwise("6_plus")
    )
    return (
        comp.join(sizes, "component_id")
        .join(q, "doc_id")
        .groupBy(bucket.alias("dup_bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.col("keep").cast("int")).cast("bigint").alias("n_keep"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        )
        .select(
            "dup_bucket",
            "n_docs",
            "n_keep",
            F.expr(IDIV("n_keep * 1000000", "n_docs")).alias("keep_ppm"),
            F.expr(IDIV("sum_tokens", "n_docs")).alias("mean_tokens"),
        )
    )


def _dd22_oracle() -> str:
    from ..corpus.corpus_sql import IDIV  # noqa: PLC0415
    from .text import ORACLES as _TX_ORACLES  # noqa: PLC0415

    tx2 = _TX_ORACLES["tx2_quality_score"]
    return f"""
        WITH comp AS ({ORACLES["dd8_neardup_components"]}),
        q AS ({tx2}),
        sizes AS (SELECT component_id, COUNT(*) AS dup_count
                  FROM comp GROUP BY component_id),
        rolled AS (
          SELECT CASE WHEN s.dup_count = 1 THEN 'unique'
                      WHEN s.dup_count = 2 THEN '2'
                      WHEN s.dup_count <= 5 THEN '3_5'
                      ELSE '6_plus' END AS dup_bucket,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(CASE WHEN q.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
                 CAST(SUM(q.n_tokens) AS BIGINT) AS sum_tokens
          FROM comp c JOIN sizes s USING (component_id) JOIN q USING (doc_id)
          GROUP BY 1)
        SELECT dup_bucket, n_docs, n_keep,
               {IDIV('n_keep * 1000000', 'n_docs')} AS keep_ppm,
               {IDIV('sum_tokens', 'n_docs')} AS mean_tokens
        FROM rolled"""


ORACLES["dd22_dup_quality_profile"] = _dd22_oracle()
SPARK_QUERIES["dd22_dup_quality_profile"] = dup_quality_profile


def shingle_hotspot_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd23 — HOT-SHINGLE WORK AUDIT: the document-frequency spectrum of
    the shingle index, priced in candidate-join work. Per df bucket
    (1 / 2-10 / 11-{cap} / >{cap}): shingle count, posting count
    (sum df — the index size), and pair_work (sum df*(df-1)/2 — the
    candidate pairs a shared-shingle self-join would emit). This is the
    measurement behind dd2's _SHINGLE_DF_CAP: the >cap bucket's
    pair_work is the quadratic cost the cap refuses to pay, and its
    shingle share is the recall price — the two numbers that justify a
    cap value at 100 TB, where one boilerplate shingle shared by 10^6
    docs would otherwise emit 5*10^11 candidate pairs on its own.

    Scale: one shingle-keyed groupBy (df per shingle), one 4-group
    rollup — the audit costs one pass over the index it audits.

    Exactness: pure integer arithmetic throughout (df*(df-1)/2 is exact
    in BIGINT at any realistic df)."""
    df_counts = (
        _shingles_df(spark, sf_dir)
        .groupBy("shingle")
        .agg(F.count("*").cast("bigint").alias("df"))
    )
    bucket = (
        F.when(F.col("df") == 1, "1")
        .when(F.col("df") <= 10, "2_10")
        .when(F.col("df") <= _SHINGLE_DF_CAP, f"11_{_SHINGLE_DF_CAP}")
        .otherwise(f"gt_{_SHINGLE_DF_CAP}")
    )
    return (
        df_counts.groupBy(bucket.alias("df_bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum("df").cast("bigint").alias("n_postings"),
            # df*(df-1) is even, so integer division is exact — the sum
            # stays BIGINT end to end (no double accumulation)
            F.sum(F.expr("df * (df - 1) div 2")).cast("bigint").alias("pair_work"),
        )
    )


ORACLES["dd23_shingle_hotspot_audit"] = f"""
        WITH x AS (SELECT 1), {_DUCK_SHINGLES.strip()},
        dfs AS (
          SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
          FROM shingles GROUP BY shingle)
        SELECT CASE WHEN df = 1 THEN '1'
                    WHEN df <= 10 THEN '2_10'
                    WHEN df <= {_SHINGLE_DF_CAP} THEN '11_{_SHINGLE_DF_CAP}'
                    ELSE 'gt_{_SHINGLE_DF_CAP}' END AS df_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(df) AS BIGINT) AS n_postings,
               CAST(SUM(df * (df - 1) // 2) AS BIGINT) AS pair_work
        FROM dfs GROUP BY 1"""

SPARK_QUERIES["dd23_shingle_hotspot_audit"] = shingle_hotspot_audit


def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd24 — CROSS-SOURCE DUPLICATION MATRIX: dd3's verified near-dup
    pairs rolled up by (source, source) — which feeds copy from each
    other, and how strongly. This is the provenance view a curation run
    reads before weighting sources: a hot off-diagonal cell means two
    feeds mirror the same upstream (keep one), a hot diagonal means a
    feed re-posts itself (dedup within, not across). Jaccard mass is
    published in exact integer micro-units (floor(j * 1e6)) so the sums
    are order-independent and bit-identical cross-engine.

    Scale: the pair set is dd3's banded LSH output (bounded, never
    all-pairs); attaching sources is two keyed joins on doc_id against a
    2-column projection of documents; the rollup output is
    |sources|^2-bounded. At 100 TB the same plan rides the persisted
    shingle frame and a broadcast source dim."""
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = _shared_minhash_pairs(spark, sf_dir)
    joined = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")),
            "doc_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")),
            "doc_b",
        )
    )
    return (
        joined.select(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
            F.floor(F.col("jaccard") * 1e6).cast("bigint").alias("j_micro"),
        )
        .groupBy("source_lo", "source_hi")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("j_micro").cast("bigint").alias("sum_jaccard_micro"),
            F.max("j_micro").cast("bigint").alias("max_jaccard_micro"),
        )
        .withColumn(
            "mean_jaccard_micro",
            F.expr("CAST(FLOOR(sum_jaccard_micro / CAST(n_pairs AS DOUBLE)) AS BIGINT)"),
        )
    )


# dd24's oracle nests dd3's full oracle text; jaccard is already
# ROUND(.., 9) there, so floor(j * 1e6) sees identical doubles.
ORACLES["dd24_cross_source_dup_matrix"] = f"""
        WITH p AS ({ORACLES["dd3_minhash_lsh_pairs"]}),
        d AS (SELECT doc_id, source FROM documents),
        cells AS (
          SELECT LEAST(da.source, db.source) AS source_lo,
                 GREATEST(da.source, db.source) AS source_hi,
                 CAST(FLOOR(p.jaccard * 1e6) AS BIGINT) AS j_micro
          FROM p JOIN d da ON p.doc_a = da.doc_id
                 JOIN d db ON p.doc_b = db.doc_id)
        SELECT source_lo, source_hi,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(j_micro) AS BIGINT) AS sum_jaccard_micro,
               CAST(MAX(j_micro) AS BIGINT) AS max_jaccard_micro,
               CAST(FLOOR(SUM(j_micro) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
                 AS mean_jaccard_micro
        FROM cells GROUP BY source_lo, source_hi"""

SPARK_QUERIES["dd24_cross_source_dup_matrix"] = cross_source_dup_matrix


# tx5's deterministic split, restated on doc_id alone (content-free, so
# a doc's split never depends on which table carries it)
_SPLIT_EXPR = (
    "CASE WHEN ({h}) % 100 < 80 THEN 'train' "
    "WHEN ({h}) % 100 < 90 THEN 'val' ELSE 'test' END"
)
_TX31_CELLS = (
    ("test", "test"), ("test", "train"), ("test", "val"),
    ("train", "train"), ("train", "val"), ("val", "val"),
)


def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx31 — TRAIN/VAL/TEST SPLIT-LEAKAGE AUDIT: duplicate pairs that
    CROSS tx5's split boundaries — the "did the test set leak into
    train?" table every eval pipeline needs before trusting held-out
    numbers. Two tiers share one report: ``exact`` (same md5 digest,
    dd1's relation) and ``minhash`` (dd3's verified near-dup pairs);
    same-split cells are published too, so the cross-split mass can be
    read against the within-split base rate. ``n_docs`` counts distinct
    documents participating in at least one pair of the cell.

    Exactness: splits derive from the doc_id hash (tx5's bucket — no
    content, no join), every figure is an integer count.

    Scale: the exact tier NEVER materializes pairs — per-digest split
    counts (one dd1-shaped shuffle) yield each cell's pair/doc count
    arithmetically (C(n,2) / n_a*n_b per digest, summed); a mega dup
    group costs O(1), not O(k^2). The minhash tier rides dd3's banded
    LSH output; its cells publish only where pairs exist, while the
    exact tier always publishes all six cells (zero means verified-clean)."""
    h = _SPARK_H.format(x="CAST(doc_id AS STRING)")
    docs = load_table(spark, sf_dir, "documents").select(
        F.md5("text").alias("digest"),
        F.expr(_SPLIT_EXPR.format(h=h)).alias("split"),
    )
    g = docs.groupBy("digest").agg(
        *[
            F.sum((F.col("split") == s).cast("bigint")).alias(f"n_{s}")
            for s in ("train", "val", "test")
        ]
    )
    exact_cells = []
    for a, b in _TX31_CELLS:
        na, nb = F.col(f"n_{a}"), F.col(f"n_{b}")
        if a == b:
            pairs = F.expr(f"n_{a} * (n_{a} - 1) div 2")
            docs_in = F.when(na >= 2, na).otherwise(F.lit(0))
        else:
            pairs = na * nb
            docs_in = F.when((na > 0) & (nb > 0), na + nb).otherwise(F.lit(0))
        exact_cells.append(
            F.struct(
                F.lit(a).alias("split_lo"), F.lit(b).alias("split_hi"),
                F.sum(pairs).cast("bigint").alias("n_pairs"),
                F.sum(docs_in).cast("bigint").alias("n_docs"),
            )
        )
    exact = (
        g.agg(*[c.alias(f"c{i}") for i, c in enumerate(exact_cells)])
        .select(F.explode(F.array(*[F.col(f"c{i}") for i in range(len(exact_cells))])).alias("r"))
        .select(F.lit("exact").alias("method"), "r.*")
    )

    mh_pairs = _shared_minhash_pairs(spark, sf_dir).select(
        F.expr(_SPLIT_EXPR.format(h=_SPARK_H.format(x="CAST(doc_a AS STRING)")))
        .alias("sp_a"),
        F.expr(_SPLIT_EXPR.format(h=_SPARK_H.format(x="CAST(doc_b AS STRING)")))
        .alias("sp_b"),
        "doc_a", "doc_b",
    ).select(
        F.least("sp_a", "sp_b").alias("split_lo"),
        F.greatest("sp_a", "sp_b").alias("split_hi"),
        "doc_a", "doc_b",
    )
    mh_counts = mh_pairs.groupBy("split_lo", "split_hi").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
    mh_docs = (
        mh_pairs.select(
            "split_lo", "split_hi",
            F.explode(F.array("doc_a", "doc_b")).alias("doc"),
        )
        .distinct()
        .groupBy("split_lo", "split_hi")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    minhash = mh_counts.join(mh_docs, ["split_lo", "split_hi"]).select(
        F.lit("minhash").alias("method"), "split_lo", "split_hi",
        "n_pairs", "n_docs",
    )
    # exact cells publish even at zero: "no cross-split dups" is itself
    # the audit verdict a reader needs stated, not omitted
    return exact.unionByName(minhash)


def _tx31_oracle() -> str:
    h = _DUCK_H.format(x="CAST(doc_id AS VARCHAR)")
    split = _SPLIT_EXPR.format(h=h)
    arms = []
    for a, b in _TX31_CELLS:
        if a == b:
            arms.append(
                f"SELECT 'exact' AS method, '{a}' AS split_lo, '{b}' AS split_hi,"
                f" CAST(SUM(n_{a} * (n_{a} - 1) // 2) AS BIGINT) AS n_pairs,"
                f" CAST(SUM(CASE WHEN n_{a} >= 2 THEN n_{a} ELSE 0 END) AS BIGINT)"
                f" AS n_docs FROM g"
            )
        else:
            arms.append(
                f"SELECT 'exact', '{a}', '{b}',"
                f" CAST(SUM(n_{a} * n_{b}) AS BIGINT),"
                f" CAST(SUM(CASE WHEN n_{a} > 0 AND n_{b} > 0"
                f" THEN n_{a} + n_{b} ELSE 0 END) AS BIGINT) FROM g"
            )
    exact_arms = "\n          UNION ALL\n          ".join(arms)
    ha = _DUCK_H.format(x="CAST(doc_a AS VARCHAR)")
    hb = _DUCK_H.format(x="CAST(doc_b AS VARCHAR)")
    return f"""
        WITH d AS (
          SELECT md5(text) AS digest, {split} AS split FROM documents),
        g AS (
          SELECT digest,
                 SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_train,
                 SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS n_val,
                 SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_test
          FROM d GROUP BY digest),
        exact_cells AS (
          {exact_arms}
        ),
        mh AS (
          SELECT LEAST({_SPLIT_EXPR.format(h=ha)}, {_SPLIT_EXPR.format(h=hb)})
                   AS split_lo,
                 GREATEST({_SPLIT_EXPR.format(h=ha)}, {_SPLIT_EXPR.format(h=hb)})
                   AS split_hi,
                 doc_a, doc_b
          FROM ({ORACLES["dd3_minhash_lsh_pairs"]})),
        mh_counts AS (
          SELECT split_lo, split_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs
          FROM mh GROUP BY 1, 2),
        mh_docs AS (
          SELECT split_lo, split_hi, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM (SELECT DISTINCT split_lo, split_hi, doc FROM (
                  SELECT split_lo, split_hi, doc_a AS doc FROM mh
                  UNION ALL
                  SELECT split_lo, split_hi, doc_b FROM mh))
          GROUP BY 1, 2)
        SELECT * FROM exact_cells
        UNION ALL
        SELECT 'minhash', c.split_lo, c.split_hi, c.n_pairs, d.n_docs
        FROM mh_counts c JOIN mh_docs d USING (split_lo, split_hi)"""


ORACLES["tx31_split_leakage_audit"] = _tx31_oracle()
SPARK_QUERIES["tx31_split_leakage_audit"] = split_leakage_audit


_DD26_K = 10  # seed window width in tokens (the paper's knob; 50 in prod)


def repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd26 — VARIABLE-LENGTH repeated-substring census, the true
    exact-substring dedup primitive (Lee et al. 2022; the reference
    family's spans twin dd15 fixes the width at one shingle — this one
    does not): every maximal token span whose every position is covered
    by a >=``_DD26_K``-token window occurring MORE THAN ONCE in the
    corpus. Duplicated windows are found with a suffix-style sorted key
    join (md5 of the k-token window, grouped corpus-wide), then
    per-document runs of window starts merge through a gaps-and-islands
    window (break when the gap exceeds k, i.e. when the covered token
    intervals stop touching) — so span lengths are variable and the
    summed coverage is an exact disjoint-interval union, never a
    double count. Rolled up per source: how much text an
    exact-substring deduper would cut from each feed, in exact integer
    tokens and floor-ppm.

    Scale: the window table is linear in corpus tokens and
    embarrassingly parallel to produce; the only corpus-wide exchange
    is one md5-keyed groupBy (map-side partial count) plus one hash
    join of the occurrence table against the duplicated-key set —
    never all-pairs. The island pass is a doc_id-partitioned window
    (each doc's starts sort locally after one doc-keyed shuffle), and
    the final rollup is |sources|-bounded. At 100 TB the knob is k:
    the paper's k=50 shrinks both the duplicated-key set and the hit
    table without changing the plan."""
    return _repeated_substrings_of(load_table(spark, sf_dir, "documents"))


def _dup_spans_of(words: DataFrame, k: int) -> DataFrame:
    """dd26's census core over any (doc_id, source, w) frame: the maximal
    token spans (doc_id, source, grp, span_tokens) whose every position is
    covered by a >=k-token window occurring >= 2x across the frame.
    Shared by dd26's per-source rollup and tx33's substring-cut funnel
    stage so the span semantics can never drift between them.

    Scale: ONE md5-keyed exchange — the duplicated-window test is a
    count window over the occurrence stream (count >= 2 per key),
    replacing the previous groupBy + self-join on the same key (guide
    §2.4: two operations keyed the same way share one exchange; r15 A/B
    2.88 -> 1.34 s at sf0.1, result-identical). The key is the RAW
    16-byte md5 (``unhex``), not its 32-char hex rendering — same
    equality classes, half the shuffle/sort bytes (§2.3 narrower types).
    Then a doc_id-partitioned gaps-and-islands window — never
    all-pairs."""
    occ = words.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {k} + 1),"
                f" i -> named_struct('pos', i,"
                f"   'g', unhex(md5(concat_ws(' ', slice(w, i, {k}))))))"
            )
        ).alias("s"),
    ).select("doc_id", "source", F.col("s.pos").alias("pos"), F.col("s.g").alias("g"))
    hits = (
        occ.withColumn("cnt", F.count("*").over(Window.partitionBy("g")))
        .filter(F.col("cnt") >= 2)
        .select("doc_id", "source", "pos")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    isl = hits.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(w_doc) > k, 1).otherwise(0),
    ).withColumn(
        "grp",
        F.sum("brk").over(w_doc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return isl.groupBy("doc_id", "source", "grp").agg(
        (F.max("pos") - F.min("pos") + F.lit(k)).cast("bigint").alias("span_tokens")
    )


def _repeated_substrings_of(docs: DataFrame, k: int = _DD26_K) -> DataFrame:
    """dd26 core over any (doc_id, source, text) frame — see
    ``repeated_substrings`` for semantics; split out so tests can drive
    it on constructed corpora with known repeated spans."""
    from ..corpus.corpus_sql import IDIV  # noqa: PLC0415

    words = docs.select("doc_id", "source", F.expr(_words(True)).alias("w")).filter(
        F.size("w") >= k
    )
    spans = _dup_spans_of(words, k)
    base = words.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size("w")).cast("bigint").alias("total_tokens"),
    )
    per_src = spans.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs_spanned"),
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum("span_tokens").cast("bigint").alias("covered_tokens"),
        F.max("span_tokens").cast("bigint").alias("max_span_tokens"),
    )
    cov = F.coalesce("covered_tokens", F.lit(0)).cast("bigint")
    return base.join(per_src, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce("n_docs_spanned", F.lit(0)).cast("bigint").alias("n_docs_spanned"),
        F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
        cov.alias("covered_tokens"),
        F.coalesce("max_span_tokens", F.lit(0)).cast("bigint").alias("max_span_tokens"),
        "total_tokens",
        F.expr(IDIV("COALESCE(covered_tokens, 0) * 1000000", "total_tokens"))
        .alias("covered_ppm"),
    )


def _dd26_oracle() -> str:
    from ..corpus.corpus_sql import IDIV  # noqa: PLC0415

    k = _DD26_K
    return f"""
        WITH wrds AS (
          SELECT doc_id, source, {_words(False)} AS w FROM documents),
        eligible AS (
          SELECT doc_id, source, w, CAST(len(w) AS BIGINT) AS n_tokens
          FROM wrds WHERE len(w) >= {k}),
        occ AS (
          SELECT doc_id, source, s['pos'] AS pos, s['g'] AS g FROM (
            SELECT doc_id, source,
                   unnest(list_transform(range(1, len(w) - {k} + 2),
                     i -> struct_pack(pos := i,
                            g := md5(array_to_string(w[i:i+{k - 1}], ' '))))) AS s
            FROM eligible)),
        dup AS (SELECT g FROM occ GROUP BY g HAVING COUNT(*) >= 2),
        hits AS (SELECT doc_id, source, pos FROM occ JOIN dup USING (g)),
        isl AS (
          SELECT doc_id, source, pos,
                 SUM(CASE WHEN prev IS NOT NULL AND pos - prev > {k}
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS grp
          FROM (SELECT doc_id, source, pos,
                       LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                FROM hits)),
        spans AS (
          SELECT doc_id, source, grp,
                 CAST(MAX(pos) - MIN(pos) + {k} AS BIGINT) AS span_tokens
          FROM isl GROUP BY doc_id, source, grp),
        base AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
          FROM eligible GROUP BY source),
        per_src AS (
          SELECT source,
                 CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_spanned,
                 CAST(COUNT(*) AS BIGINT) AS n_spans,
                 CAST(SUM(span_tokens) AS BIGINT) AS covered_tokens,
                 CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens
          FROM spans GROUP BY source)
        SELECT b.source, b.n_docs,
               COALESCE(p.n_docs_spanned, 0) AS n_docs_spanned,
               COALESCE(p.n_spans, 0) AS n_spans,
               COALESCE(p.covered_tokens, 0) AS covered_tokens,
               COALESCE(p.max_span_tokens, 0) AS max_span_tokens,
               b.total_tokens,
               {IDIV('COALESCE(p.covered_tokens, 0) * 1000000',
                     'b.total_tokens')} AS covered_ppm
        FROM base b LEFT JOIN per_src p USING (source)"""


ORACLES["dd26_repeated_substrings"] = _dd26_oracle()
SPARK_QUERIES["dd26_repeated_substrings"] = repeated_substrings


# dd27: every (bands x rows) split of dd3's 16-hash budget — the grid the
# S-curve advisor prices, a superset of dd21's three MEASURED configs.
_DD27_GRID = ((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))


def _pow_sql(e: str, n: int) -> str:
    """x^n for a power-of-two n as an explicit squaring chain — ONE text,
    one association order, run verbatim on both engines, so the float
    result is bit-identical (pow()'s libm could differ in the last bit;
    a fixed multiplication tree cannot)."""
    if n == 1:
        return e
    h = _pow_sql(e, n // 2)
    return f"(({h})*({h}))"


def _scurve_p_sql(b: int, r: int) -> str:
    """P(candidate | jaccard s) = 1 - (1 - s^r)^b, rounded to 9dp —
    the MinHash-LSH collision S-curve (MMDS ch. 3) as a portable
    multiplication-only SQL expression over the ``jaccard`` column."""
    sr = _pow_sql("jaccard", r)
    return f"ROUND(1 - {_pow_sql(f'(1 - {sr})', b)}, 9)"


def lsh_curve_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd27 — ANALYTIC LSH DESIGN TABLE: for every (bands x rows) split
    of dd3's 16-minhash budget, the EXPECTED recall over the corpus's
    measured true-pair similarity spectrum (the persisted exact-jaccard
    frame), plus the weakest pair's catch probability — the S-curve
    formula priced on real data instead of a textbook similarity. dd21
    answers the banding question empirically for three configs by
    running them; dd27 predicts ALL five splits from one 1-row
    aggregate, including the configs you did not pay to run — the table
    an operator reads FIRST, then spot-checks with dd21's sweep.

    Exactness: the S-curve is evaluated as a fixed squaring chain (one
    SQL text on both engines — no libm pow), rounded to 9dp per pair;
    per-config sums accumulate as DECIMAL(38,9) (exact, commutative);
    every published figure is FLOOR-scaled integer micro/ppm, with
    recall_ppm derived by integer division from the published
    hits_micro (floor(floor(x)/n) = floor(x/n)).

    Scale: one pass over the persisted truth-pair frame (|pairs| rows —
    never the corpus), one partial-agg'd reduction to a single row,
    exploded to the |grid|-row table. Pairs with jaccard below dd2's
    0.5 threshold are not in the frame and contribute p <= the curve at
    0.5 — the advisor prices RECALL on verified true pairs, the
    candidate-volume side of the trade is dd21's measured column."""
    return _lsh_curve_of(_shared_jaccard3(spark, sf_dir))


def _lsh_curve_of(pairs: DataFrame) -> DataFrame:
    """dd27 core over any (doc_a, doc_b, jaccard) frame — split out so
    tests can drive it on constructed similarity spectra.

    An EMPTY truth frame (possible at tiny scale factors where no pair
    clears dd2's 0.5 threshold) yields n_pairs=0 with NULL sums; rather
    than publish an all-NULL design table, the n_pairs=0 row is filtered
    so the advisor returns an empty table — same guard in the oracle —
    and the fixture test asserts non-emptiness at every gated sf."""
    aggs = []
    for b, r in _DD27_GRID:
        p = _scurve_p_sql(b, r)
        aggs.append(
            F.expr(f"SUM(CAST({p} AS DECIMAL(38,9)))").alias(f"s_{b}_{r}")
        )
        aggs.append(F.expr(f"MIN({p})").alias(f"m_{b}_{r}"))
    g = pairs.agg(F.count("*").cast("bigint").alias("n_pairs"), *aggs).filter(
        F.col("n_pairs") > 0
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(b).cast("bigint").alias("bands"),
                F.lit(r).cast("bigint").alias("rows_per_band"),
                F.col("n_pairs").alias("n_pairs"),
                F.expr(f"CAST(FLOOR(s_{b}_{r} * 1000000) AS BIGINT)").alias(
                    "expected_hits_micro"
                ),
                F.expr(f"CAST(FLOOR(m_{b}_{r} * 1000000) AS BIGINT)").alias(
                    "weakest_pair_hit_micro"
                ),
            )
            for b, r in _DD27_GRID
        ]
    )
    return (
        g.select(F.explode(rows).alias("c"))
        .select("c.*")
        .withColumn(
            "expected_recall_ppm",
            F.expr("expected_hits_micro DIV n_pairs"),
        )
    )


def _dd27_oracle() -> str:
    branches = []
    for b, r in _DD27_GRID:
        p = _scurve_p_sql(b, r)
        branches.append(
            f"""SELECT CAST({b} AS BIGINT) AS bands,
               CAST({r} AS BIGINT) AS rows_per_band,
               n_pairs,
               CAST(FLOOR(s_{b}_{r} * 1000000) AS BIGINT) AS expected_hits_micro,
               CAST(FLOOR(m_{b}_{r} * 1000000) AS BIGINT) AS weakest_pair_hit_micro,
               CAST(FLOOR(s_{b}_{r} * 1000000) AS BIGINT) // n_pairs
                 AS expected_recall_ppm
            FROM agg WHERE n_pairs > 0"""
        )
        # per-config aggregates assembled below
    cols = ", ".join(
        f"SUM(CAST({_scurve_p_sql(b, r)} AS DECIMAL(38,9))) AS s_{b}_{r},"
        f" MIN({_scurve_p_sql(b, r)}) AS m_{b}_{r}"
        for b, r in _DD27_GRID
    )
    union = "\n UNION ALL\n ".join(branches)
    return f"""
        WITH t AS ({ORACLES["dd2_ngram_jaccard_pairs"]}),
        agg AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, {cols} FROM t)
        {union}"""


ORACLES["dd27_lsh_curve_advisor"] = _dd27_oracle()
SPARK_QUERIES["dd27_lsh_curve_advisor"] = lsh_curve_advisor


def advisor_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd28 — ADVISOR CALIBRATION: dd27's analytically predicted recall
    joined against dd21's measured sweep for the three configs dd21
    actually ran — per (bands x rows) split, predicted vs realized
    recall in integer ppm and the signed calibration gap. This is the
    loop-closer: dd27 prices all five splits of the 16-hash budget from
    one aggregate so an operator can skip running them; dd28 is the
    evidence that the pricing can be trusted, and publishes the
    candidate volume + hot-bucket skip count beside the gap so the two
    honest reasons realized can trail predicted (sampling variance of
    the Bernoulli collisions, and the df-cap excluding hot buckets from
    the (16,1) pair join) are visible in the same row.

    Scale: a 3x5-row broadcast join of two already-audited outputs —
    the cost is dd21's sweep (warm-marginal on the shared persisted
    frames), zero new shuffle families; the calibration math is integer
    (IDIV ppm, signed bigint gap)."""
    from ..corpus.corpus_sql import IDIV  # noqa: PLC0415

    meas = lsh_band_sensitivity(spark, sf_dir).select(
        F.col("n_bands").alias("bands"), "rows_per_band",
        "n_candidates", "n_hot_pairs", "n_true_found", "n_true",
    )
    pred = lsh_curve_advisor(spark, sf_dir).select(
        "bands", "rows_per_band", "expected_recall_ppm",
    )
    realized = IDIV("n_true_found * 1000000", "n_true")
    return (
        meas.join(F.broadcast(pred), ["bands", "rows_per_band"])
        .select(
            "bands", "rows_per_band", "n_true",
            F.col("expected_recall_ppm").alias("predicted_recall_ppm"),
            F.expr(realized).alias("realized_recall_ppm"),
            (F.col("expected_recall_ppm") - F.expr(realized))
            .alias("calibration_gap_ppm"),
            "n_candidates", "n_hot_pairs",
        )
    )


def _dd28_oracle() -> str:
    from ..corpus.corpus_sql import IDIV  # noqa: PLC0415

    realized = IDIV("m.n_true_found * 1000000", "m.n_true")
    return f"""
        SELECT m.n_bands AS bands, m.rows_per_band, m.n_true,
               p.expected_recall_ppm AS predicted_recall_ppm,
               {realized} AS realized_recall_ppm,
               p.expected_recall_ppm - {realized}
                 AS calibration_gap_ppm,
               m.n_candidates, m.n_hot_pairs
        FROM ({ORACLES["dd21_lsh_band_sensitivity"]}) m
        JOIN ({ORACLES["dd27_lsh_curve_advisor"]}) p
          ON p.bands = m.n_bands AND p.rows_per_band = m.rows_per_band"""


ORACLES["dd28_advisor_calibration"] = _dd28_oracle()
SPARK_QUERIES["dd28_advisor_calibration"] = advisor_calibration


_DD29_NEAR_EQUAL_PPM = 1_100_000   # max/min length ratio < 1.1x
_DD29_MODERATE_PPM = 2_000_000     # < 2x; >= 2x is containment-suspect


def component_length_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd29 — WITHIN-COMPONENT LENGTH-SPREAD AUDIT: for every multi-doc
    near-dup component (dd8), the max/min document-length ratio, binned
    into three policy bands — near_equal (< 1.1x: true re-posts, safe
    for any keep-best rule), moderate (< 2x: edited variants, dd13's
    quality-ranked keep-best is the right tool), containment_suspect
    (>= 2x: one document likely CONTAINS the other — deleting the long
    one throws away unique text, the case dd14's containment pass
    exists for). The census tells a curation run which policy mix its
    duplicate mass actually needs, per band: component count, total
    documents, and the extreme ratio.

    Exactness: lengths are the table's integer n_chars; the ratio
    publishes as floor ppm via the shared IDIV with a GREATEST(min,1)
    guard (a zero-length document cannot divide); band edges compare
    the already-floored integer, identically on both engines.

    Scale: one doc_id-keyed join of the component labels against the
    documents table (both sides bucketed by doc_id in a production
    layout), one component-keyed aggregate (cardinality = components),
    and a 3-row census — the label-propagation cost is dd8's, audited
    there."""
    from ..corpus.corpus_sql import IDIV  # noqa: PLC0415

    comp = neardup_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    per = (
        comp.join(docs, "doc_id")
        .groupBy("component_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.max("n_chars").cast("bigint").alias("mx"),
            F.min("n_chars").cast("bigint").alias("mn"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    ratio = per.select(
        "component_id",
        "n_docs",
        F.expr(IDIV("mx * 1000000", "GREATEST(mn, 1)")).alias("ratio_ppm"),
    )
    band = (
        F.when(F.col("ratio_ppm") < _DD29_NEAR_EQUAL_PPM, "near_equal")
        .when(F.col("ratio_ppm") < _DD29_MODERATE_PPM, "moderate")
        .otherwise("containment_suspect")
    )
    return ratio.groupBy(band.alias("band")).agg(
        F.count("*").cast("bigint").alias("n_components"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.max("ratio_ppm").cast("bigint").alias("max_ratio_ppm"),
    )


def _dd29_oracle() -> str:
    from ..corpus.corpus_sql import IDIV  # noqa: PLC0415

    return f"""
        WITH comp AS ({ORACLES["dd8_neardup_components"]}),
        per AS (
          SELECT c.component_id,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(MAX(d.n_chars) AS BIGINT) AS mx,
                 CAST(MIN(d.n_chars) AS BIGINT) AS mn
          FROM comp c JOIN documents d USING (doc_id)
          GROUP BY c.component_id
          HAVING COUNT(*) >= 2),
        ratio AS (
          SELECT n_docs,
                 {IDIV('mx * 1000000', 'GREATEST(mn, 1)')} AS ratio_ppm
          FROM per)
        SELECT CASE WHEN ratio_ppm < {_DD29_NEAR_EQUAL_PPM} THEN 'near_equal'
                    WHEN ratio_ppm < {_DD29_MODERATE_PPM} THEN 'moderate'
                    ELSE 'containment_suspect' END AS band,
               CAST(COUNT(*) AS BIGINT) AS n_components,
               CAST(SUM(n_docs) AS BIGINT) AS n_docs,
               CAST(MAX(ratio_ppm) AS BIGINT) AS max_ratio_ppm
        FROM ratio GROUP BY 1"""


ORACLES["dd29_component_length_spread"] = _dd29_oracle()
SPARK_QUERIES["dd29_component_length_spread"] = component_length_spread
