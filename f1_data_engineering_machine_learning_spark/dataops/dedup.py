"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design notes (the point of each variant):

- **exact**: one shuffle on a 16-byte fingerprint instead of the full text —
  at 100 TB you never shuffle document bodies to dedup them.
- **n-gram Jaccard**: exact pairwise similarity via an inverted shingle
  index (explode -> self-join on shingle -> count). Quadratic in the worst
  case; used as the verifier behind candidate generators, or alone when the
  shingle-frequency skew is controlled (hot shingles capped).
- **MinHash+LSH**: the scale path. Signatures are computed with array
  expressions (JVM, no UDF), banded, and candidates come from a groupBy on
  (band, band-hash) — shuffle volume is O(docs x bands), never O(docs^2).
- **SimHash**: 64-bit sketch as 64 per-bit majority sums in one
  map-side-combinable groupBy (JVM, no UDF); candidates from 16-bit chunk
  equality (Hamming<=3 guarantee via pigeonhole).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from f1_data_engineering_machine_learning_spark.dataops.text import (
    content_fingerprint,
    shingles,
    tokens,
)
from f1_data_engineering_machine_learning_spark.operators.checkpoints import (
    lineage_cut,
)
from f1_data_engineering_machine_learning_spark.operators.partitioning import (
    ensure_min_parallelism,
)


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str, keep: str = "min"
) -> DataFrame:
    """Exact near-identical removal: group on the content fingerprint, keep
    one id per group. Returns (fingerprint, keeper_id, n_copies)."""
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        df.select(
            content_fingerprint(text_col).alias("fingerprint"), F.col(id_col)
        )
        .groupBy("fingerprint")
        .agg(agg.alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact pairwise over an inverted index)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = None,
) -> DataFrame:
    """Pairs (i < j) whose k-shingle Jaccard similarity >= threshold.

    inverted index: distinct (id, shingle) -> self-join on shingle ->
    intersection counts -> |A|+|B|-inter denominator.

    The self-join shuffles on the shingle and produces O(df^2) rows per
    shingle, so one boilerplate shingle shared by a million documents is
    the classic dedup scale-killer. ``df_cap`` bounds it: shingles whose
    document frequency exceeds the cap are dropped from the index AND from
    the per-document sizes before joining, so the similarity is Jaccard
    over the capped shingle universe. Trade-off (standard in the dedup
    literature): near-ubiquitous shingles carry almost no similarity
    signal, so recall loss is marginal while worst-case join cost drops
    from O(max_df^2) to O(df_cap^2) per shingle. ``None`` = exact,
    uncapped (small corpora / oracle verification).

    The shingle frame feeds three consumers (sizes + both join sides);
    no explicit cache — the three branches share a canonically identical
    distinct-exchange subtree, which Catalyst's ReuseExchange rule
    collapses so the explode+distinct shuffle executes once per action."""
    df = ensure_min_parallelism(df)
    sh = (
        df.select(F.col(id_col).alias("id"), F.explode(shingles(text_col, k)).alias("s"))
        .distinct()
    )
    if df_cap is not None:
        # document frequency per shingle; keep only shingles under the cap.
        # left_semi keeps the (id, s) row shape so downstream is unchanged.
        rare = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= df_cap)
            .select("s")
        )
        sh = sh.join(rare, "s", "left_semi")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("id").alias("i"), "s")
    b = sh.select(F.col("id").alias("j"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("id").alias("i"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("j"), F.col("n").alias("nb"))
    out = (
        inter.join(sa, "i")
        .join(sb, "j")
        .withColumn(
            "jaccard",
            (
                F.col("c").cast("double")
                / (F.col("na") + F.col("nb") - F.col("c"))
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("i", "j", "jaccard")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    k: int = 3,
) -> DataFrame:
    """(id, h0..h{n-1}) MinHash signatures: hash_i = min over shingles of
    xxhash64(shingle || seed_i).

    Plan shape matters here: explode shingles to ROWS once, compute the n
    seeded hashes as columns, then one groupBy(id) with n MIN aggregates —
    map-side combinable, one shuffle of (id, n x 8 bytes). (The tempting
    alternative — n x array_min(transform(shingles)) nested array
    expressions — re-evaluates the shingle array n times per row and runs
    ~50x slower; measured.) NO distinct on the exploded shingles: MIN over
    a multiset equals MIN over its set, and the partial (map-side) MIN
    collapses each partition to one row per id before the exchange —
    strictly less shuffle than a distinct, which must move every distinct
    (id, shingle) pair."""
    df = ensure_min_parallelism(df)
    sh = df.select(
        F.col(id_col).alias("id"), F.explode(shingles(text_col, k)).alias("s")
    )
    hashed = sh.select(
        "id",
        *[
            F.xxhash64(F.col("s"), F.lit(i)).alias(f"h{i}")
            for i in range(n_hashes)
        ],
    )
    return hashed.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(n_hashes)]
    )


def _banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int,
    bands: int,
    k: int,
) -> DataFrame:
    """(id, band, bucket) LSH band assignments from MinHash signatures —
    the shared candidate structure for both whole-corpus and incremental
    dedup. One shuffle (the signature groupBy); banding itself is map-only."""
    rows_per_band = n_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n_hashes, k)
    return sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"h{b * rows_per_band + r}").cast("string")
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )


def lsh_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
) -> DataFrame:
    """The PERSISTABLE LSH index: (id, band, bucket) MinHash band
    assignments for every doc — what a continuous-ingest deployment
    stores next to the corpus (exactly as it stores the exact-dedup
    ``fp`` fingerprint) so later batches never re-MinHash the corpus
    text. Feed the stored frame back as
    ``incremental_minhash_dedup_pairs(corpus_bands=...)``. The index is
    only valid for the (n_hashes, bands, k) it was built with — changing
    the knobs means rebuilding it (same contract as any LSH store)."""
    return _banded(df, id_col, text_col, n_hashes, bands, k)


def minhash_band_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """(band, bucket) -> member ids, for buckets with >1 member. The LSH
    candidate structure: docs sharing any band bucket are candidate dups.
    rows_per_band = n_hashes // bands controls the similarity knee.

    ``max_bucket`` bounds degenerate buckets (empty docs, boilerplate — one
    shared band hash over millions of rows): membership counts are computed
    FIRST and oversized buckets are discarded before any ``collect_list``,
    so the executor never builds a multi-million-element array and the
    downstream pair explosion is capped at O(max_bucket^2) per bucket.
    A dropped bucket's members are near-identical to each other anyway —
    exact dedup (cheap, runs before LSH in the curation pipeline) is the
    right tool for them; ``None`` disables the bound. Counting and
    collecting share one exchange via ReuseExchange."""
    banded = _banded(df, id_col, text_col, n_hashes, bands, k)
    counts = banded.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("n"))
    keep = counts.filter(F.col("n") > 1)
    if max_bucket is not None:
        keep = keep.filter(F.col("n") <= max_bucket)
    return (
        banded.join(keep, ["band", "bucket"])
        .groupBy("band", "bucket", "n")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .select("band", "bucket", "ids", "n")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    verify_threshold: float = 0.5,
    max_bucket: int | None = 1024,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: band buckets -> candidate pairs
    (distinct across bands) -> EXACT Jaccard verification of candidates
    only. Returns verified (i, j, jaccard) pairs. ``max_bucket`` caps
    degenerate LSH buckets before the ids x ids pair explosion (see
    minhash_band_buckets) — per-bucket pair cost is O(max_bucket^2), not
    O(corpus^2). No explicit cache on the shingle frame: its distinct
    exchange is shared across the three verification consumers via
    AQE exchange reuse (no session-lifetime cache to leak). Measured and
    rejected: semi-joining the corpus to candidate ids before the verify
    re-shingle (the shingle scan then waits for the bucket pipeline;
    2.7 -> 3.8 s at sf0.1), and lineage-cutting the pair/shingle frames
    (each cut is a synchronous job barrier; AQE exchange reuse already
    collapses the repeated subtrees within the one action — 2x
    slower)."""
    df = ensure_min_parallelism(df)
    buckets = minhash_band_buckets(
        df, id_col, text_col, n_hashes, bands, k, max_bucket=max_bucket
    )
    pairs = (
        buckets.select(F.explode(F.col("ids")).alias("i"), "ids")
        .select("i", F.explode(F.col("ids")).alias("j"))
        .filter(F.col("i") < F.col("j"))
        .distinct()
    )
    sh = (
        df.select(
            F.col(id_col).alias("id"), F.explode(shingles(text_col, k)).alias("s")
        )
        .distinct()
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    ai = sh.select(F.col("id").alias("i"), F.col("s").alias("si"))
    bj = sh.select(F.col("id").alias("__j2"), F.col("s").alias("sj"))
    inter = (
        pairs.join(ai, "i")
        .join(bj, (F.col("j") == F.col("__j2")) & (F.col("si") == F.col("sj")))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("id").alias("i"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("j"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "i")
        .join(sb, "j")
        .withColumn(
            "jaccard",
            (
                F.col("c").cast("double")
                / (F.col("na") + F.col("nb") - F.col("c"))
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= verify_threshold)
        .select("i", "j", "jaccard")
    )


# ---------------------------------------------------------------------------
# incremental (new batch vs existing corpus) — the continuous-ingest shape
# ---------------------------------------------------------------------------


def incremental_exact_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Exact dedup of a NEW batch against an EXISTING corpus: returns
    (batch_id, keeper_id) for batch docs whose content fingerprint already
    exists in the corpus, matched to the smallest corpus id.

    Scale shape: both sides reduce to 16-byte fingerprints before the
    equi-join — document bodies never shuffle; the corpus side collapses to
    one row per distinct fingerprint (groupBy MIN, map-side combinable).
    In production the corpus fingerprint table is the stored dedup index —
    computed once at ingest, not re-derived per batch (this operator accepts
    either; pass the raw corpus or its fingerprint table upstream)."""
    bf = batch.select(
        F.col(id_col).alias("batch_id"), content_fingerprint(text_col).alias("fp")
    )
    cf = (
        corpus.select(F.col(id_col).alias("cid"), content_fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min("cid").alias("keeper_id"))
    )
    return bf.join(cf, "fp").select("batch_id", "keeper_id")


def incremental_minhash_dedup_pairs(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    verify_threshold: float = 0.5,
    max_bucket: int | None = 1024,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Near-dups of NEW docs against the EXISTING corpus via MinHash-LSH:
    band assignments on both sides, candidates from the (band, bucket)
    equi-join BATCH x CORPUS only — corpus x corpus pairs are never
    generated, so continuous ingest pays O(|batch| x bucket density) per
    run, not O(|corpus|^2). Candidates are verified with exact shingle
    Jaccard; the corpus side of the verification is CANDIDATE-BOUNDED —
    only corpus docs that collided in some bucket are shingled, so
    per-batch verify work scales with candidates, never corpus size.
    Returns (batch_id, corpus_id, jaccard >= verify_threshold).

    ``max_bucket`` caps the CORPUS membership per (band, bucket): a
    boilerplate bucket with a million corpus members would otherwise fan
    every colliding batch doc out a million ways.

    ``corpus_bands``: the STORED LSH index — an (id, band, bucket) frame
    persisted at ingest time (``lsh_band_index`` /
    ``streaming.jobs.near_dup_ingest_stream``). When provided, the
    corpus text is never re-MinHashed: the only corpus-scaled work left
    is the index equi-join itself, which is what makes continuous ingest
    against a 100 TB corpus batch-bounded. When None the index is
    derived inline from the corpus text (batch-job shape, same values —
    parity pinned by tests/test_streaming_dedup_ingest.py)."""
    batch = ensure_min_parallelism(batch)
    b_banded = _banded(batch, id_col, text_col, n_hashes, bands, k)
    c_banded = (
        corpus_bands.select("id", "band", "bucket")
        if corpus_bands is not None
        else _banded(corpus, id_col, text_col, n_hashes, bands, k)
    )
    if max_bucket is not None:
        small = (
            c_banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .select("band", "bucket")
        )
        c_banded = c_banded.join(small, ["band", "bucket"], "left_semi")
    pairs = (
        b_banded.select(F.col("id").alias("i"), "band", "bucket")
        .join(
            c_banded.select(F.col("id").alias("j"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("i", "j")
        .distinct()
    )
    # two consumers below (the candidate semi-join and the intersection
    # join) — cut the lineage so the bucket join materializes once
    # instead of re-executing per branch (exchange reuse is best-effort)
    pairs = lineage_cut(pairs)
    sh_b = batch.select(
        F.col(id_col).alias("id"), F.explode(shingles(text_col, k)).alias("s")
    ).distinct()
    # candidate-bounded: only corpus docs that collided in a bucket are
    # shingled for exact verification — the corpus text scan prunes to
    # candidate ids before the explode, so verify cost follows the
    # candidate count, not the corpus size.
    cand_j = pairs.select(F.col("j").alias(id_col)).distinct()
    corpus_cand = corpus.join(cand_j, id_col, "left_semi")
    sh_c = corpus_cand.select(
        F.col(id_col).alias("id"), F.explode(shingles(text_col, k)).alias("s")
    ).distinct()
    sizes_b = sh_b.groupBy("id").agg(F.count(F.lit(1)).alias("na"))
    sizes_c = sh_c.groupBy("id").agg(F.count(F.lit(1)).alias("nb"))
    inter = (
        pairs.join(sh_b.select(F.col("id").alias("i"), F.col("s").alias("si")), "i")
        .join(
            sh_c.select(F.col("id").alias("__j2"), F.col("s").alias("sj")),
            (F.col("j") == F.col("__j2")) & (F.col("si") == F.col("sj")),
        )
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        inter.join(sizes_b.select(F.col("id").alias("i"), "na"), "i")
        .join(sizes_c.select(F.col("id").alias("j"), "nb"), "j")
        .withColumn(
            "jaccard",
            (
                F.col("c").cast("double")
                / (F.col("na") + F.col("nb") - F.col("c"))
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= verify_threshold)
        .select(
            F.col("i").alias("batch_id"),
            F.col("j").alias("corpus_id"),
            "jaccard",
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


#: portable simhash width: 15 hex chars of md5 = 60 bits, the widest
#: hex-derived value that fits a SIGNED 64-bit int in every engine
PORTABLE_SIMHASH_BITS = 60


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    portable: bool = False,
) -> DataFrame:
    """(id, simhash): explode token hashes to rows, 64 per-bit
    conditional sums in one map-side-combinable groupBy, bits
    reassembled with shifts — zero Python in the row path.

    ``portable=True`` swaps the token hash from xxhash64 (fast,
    engine-specific) to the first 15 hex chars of md5 interpreted as a
    60-bit integer (``PORTABLE_SIMHASH_BITS``) — every engine has an
    identical md5, so a second engine (the DuckDB oracle) re-derives the
    SAME sketch bit-for-bit, upgrading simhash from a rows-only check to
    a full value oracle. Same plan shape; md5 costs ~2x xxhash64 in the
    hash stage — pick per deployment.
    """
    df = ensure_min_parallelism(df)
    n_bits = PORTABLE_SIMHASH_BITS if portable else 64
    tok = df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("t"))
    if portable:
        h = F.conv(
            F.substring(F.md5(F.col("t").cast("binary")), 1, 15), 16, 10
        ).cast("long")
    else:
        h = F.xxhash64("t")
    hashed = tok.select("id", h.alias("h"))
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum(F.shiftrightunsigned(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"__b{b}")
        for b in range(n_bits)
    ]
    votes = hashed.groupBy("id").agg(*aggs)
    sim = F.lit(0).cast("long")
    for b in range(n_bits):
        bit = (
            F.when(F.col(f"__b{b}") * 2 > F.col("__n"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
        )
        sim = sim.bitwiseOR(F.shiftleft(bit, b))
    return votes.select("id", sim.alias("simhash"))


def simhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Candidate pairs with Hamming distance <= max_hamming via the
    4-chunk pigeonhole (any pair within distance 3 shares at least one
    exact chunk; chunks are 16 bits, or 15 with ``portable=True``'s
    60-bit sketch). Verification computes the true distance with
    bit_count."""
    sh = simhash(df, id_col, text_col, portable=portable)
    width = (PORTABLE_SIMHASH_BITS if portable else 64) // 4
    mask = (1 << width) - 1
    chunks = sh.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), width * c)
                    .bitwiseAND(F.lit(mask))
                    .alias(f"c{c}")
                    for c in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    a = chunks.select(
        F.col("id").alias("i"), F.col("simhash").alias("sim_i"), "chunk_idx", "chunk_val"
    )
    b = chunks.select(
        F.col("id").alias("j"), F.col("simhash").alias("sim_j"), "chunk_idx", "chunk_val"
    )
    cand = (
        a.join(b, ["chunk_idx", "chunk_val"])
        .filter(F.col("i") < F.col("j"))
        .select("i", "j", "sim_i", "sim_j")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sim_i").bitwiseXOR(F.col("sim_j"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("i", "j", "hamming")
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep_regex: str = r"\n{2,}",
    join_sep: str = "\n\n",
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (C4/RefinedWeb-style): split
    every document into paragraphs, keep only the globally FIRST occurrence
    of each distinct paragraph (ordered by ``(id, position)``), and
    reassemble documents from their surviving paragraphs in original order.

    Scale design (100 TB): the first-occurrence window partitions on the
    paragraph's **sha2-256 fingerprint**, so the dedup shuffle moves 32-byte
    keys plus single paragraphs — never whole documents — and distributes
    uniformly even when one paragraph dominates the corpus. Reassembly is a
    second shuffle on the doc id. Both stages are plain exchanges with no
    driver participation; ``collect_list`` holds one document's paragraphs,
    bounded by max document size.

    Returns ``(id, dedup_text, kept_paras, total_paras)`` — one row per
    input document; a document whose every paragraph was seen earlier
    keeps an empty ``dedup_text``.
    """
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep_regex)).alias("__pos", "__para"),
    ).filter(F.trim(F.col("__para")) != "")
    w = Window.partitionBy(F.sha2(F.col("__para"), 256)).orderBy(id_col, "__pos")
    tagged = paras.withColumn("__keep", F.row_number().over(w) == 1)
    return tagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__keep"), F.struct("__pos", "__para"))
                    )
                ),
                lambda s: s["__para"],
            ),
            join_sep,
        ).alias("dedup_text"),
        F.sum(F.col("__keep").cast("long")).cast("bigint").alias("kept_paras"),
        F.count(F.lit(1)).cast("bigint").alias("total_paras"),
    )


def dedup_by_preference(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Keep ONE row per key, chosen by a caller-supplied preference order
    (ascending lexicographic over ``order_cols`` — put a priority rank
    first and a unique id last for a total order).

    This is the curation policy "when sources disagree, trust the better
    source": exact dedup keeps the globally first occurrence
    (:func:`exact_dedup`), keep-last keeps the newest
    (operators/windows.py::dedup_keep_last); this one keeps the
    *preferred* — e.g. the highest-tier source, then the smallest id as
    the deterministic tie-break.

    NULL handling: a NULL in an ``order_cols`` value means "preference
    unknown" — it must never beat a known preference, so every order
    column is encoded ``(col IS NULL, col)`` inside the struct
    (``asc_nulls_last`` semantics; a bare struct-min would sort NULL
    smallest and hand the win to the NULL row). Equivalent to
    ``row_number() OVER (ORDER BY order_cols ASC NULLS LAST)`` = 1.

    Plan: single aggregation — ``min(struct(order_cols..., row))`` per
    key. The struct min is an associative, order-independent selection,
    so it PARTIAL-AGGREGATES map-side (each input partition contributes
    one candidate per key; Spark plans it as a SortAggregate since a
    struct min has no mutable hash buffer, but the sort is per-partition
    by the key only). The shuffle therefore carries ONE row per
    (partition, key) — the naive row_number-window formulation shuffles
    EVERY duplicate row and sorts whole groups post-shuffle; at 100 TB
    that volume difference is the operator.
    """
    key_cols = list(key_cols)
    order_cols = list(order_cols)
    for c in [*key_cols, *order_cols]:
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in DataFrame")
    encoded = [
        part
        for i, c in enumerate(order_cols)
        for part in (
            F.col(c).isNull().alias(f"__n{i}"),  # False < True: nulls last
            F.col(c).alias(f"__o{i}"),
        )
    ]
    picked = df.groupBy(*key_cols).agg(
        F.min(F.struct(*encoded, F.struct(*df.columns).alias("__row"))).alias(
            "__best"
        )
    )
    return picked.select(
        *[F.col(f"__best.__row.{c}").alias(c) for c in df.columns]
    )


def substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 8,
) -> DataFrame:
    """Exact SUBSTRING-level corpus dedup (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" operator,
    token-windowed form): every ``min_len``-token window that occurs
    more than once corpus-wide keeps ONLY its globally first occurrence
    (ordered by (id, position)); every other occurrence has its token
    range removed from its document. Finer than ``paragraph_dedup``
    (catches boilerplate spans that cross paragraph boundaries or sit
    inside otherwise-unique text) and the remediating twin of
    decontam.py's detection-only n-gram overlap.

    Scale shape — no suffix array needed, three bounded exchanges:
    1. window-shingle stream is map-only (one ``transform`` over each
       token array, then posexplode);
    2. first-occurrence tagging shuffles the 32-byte sha2 fingerprint +
       (id, start) pairs — never text — and a corpus-dominating
       boilerplate span degrades into one big-but-splittable count
       partition, same property paragraph_dedup relies on;
    3. removal is positional: non-keeper occurrences explode to
       (id, token-position) marks (``min_len`` rows each), survivors
       come from a left-anti join of the token stream on (id, pos), and
       documents reassemble in original token order.

    Removal marks POSITIONS, not patterns: overlapping duplicated
    windows union their ranges (classic maximal-span behavior), and a
    keeper occurrence is never touched even when other windows overlap
    it elsewhere. Returns (id, clean_text, n_tokens, n_removed);
    documents shorter than ``min_len`` tokens pass through whole.
    """
    if min_len < 2:
        raise ValueError("min_len must be >= 2")
    base = df.select(F.col(id_col).alias("__id"), F.split(F.col(text_col), " ").alias("__t"))
    n = F.size("__t")
    starts = F.when(
        n >= min_len, F.sequence(F.lit(1), n - F.lit(min_len) + 1)
    ).otherwise(F.array().cast("array<int>"))
    sh = base.select(
        "__id",
        F.explode(starts).alias("__start"),
        "__t",
    ).select(
        "__id",
        "__start",
        F.sha2(
            F.concat_ws(" ", F.slice(F.col("__t"), F.col("__start"), min_len)), 256
        ).alias("__h"),
    )
    w = Window.partitionBy("__h").orderBy("__id", "__start")
    nonkeeper = (
        sh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select("__id", "__start")
    )
    marked = nonkeeper.select(
        "__id",
        F.explode(
            F.sequence(F.col("__start"), F.col("__start") + F.lit(min_len - 1))
        ).alias("__pos"),
    ).distinct()
    toks = base.select(
        "__id",
        F.posexplode("__t").alias("__pos0", "__tok"),
    ).select("__id", (F.col("__pos0") + 1).alias("__pos"), "__tok")
    kept = toks.join(marked, ["__id", "__pos"], "left_anti")
    rebuilt = kept.groupBy("__id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
                lambda s: s["__tok"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("__n_kept"),
    )
    return (
        base.select("__id", n.cast("long").alias("n_tokens"))
        .join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("__n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )
