"""Deduplication operators for the training-data pipeline.

Six dedup families over the ``documents`` / ``embeddings`` tables, each a
first-class operator with a DuckDB oracle:

* :func:`exact_dedup` — hash-groupBy on the full text (md5), keep min doc_id;
* :func:`minhash_signatures` / :func:`lsh_candidate_pairs` — banded MinHash
  LSH: shingle -> k salted md5 min-hashes -> band keys -> bucket self-join;
* :func:`ngram_jaccard_pairs` — exact word-n-gram Jaccard within blocking
  groups (verification stage for LSH candidates);
* :func:`simhash_signatures` / :func:`simhash_pairs` — 32-bit SimHash with
  byte-band blocking + Hamming-distance verify;
* :func:`embedding_dup_pairs` — cosine near-dup over the embedding column
  (see :mod:`rdfcmap_spark.operators.similarity` for the math);
* :func:`span_dedup` — corpus-level repeated-SPAN removal (C4-style):
  first occurrence of each distinct word-span survives, documents are
  reassembled from their surviving spans.

Scale notes (the actual point):

* every pairwise stage is **blocked** — LSH band buckets, SimHash byte
  bands, or (lang, source) partitions — so the self-join is per-bucket, never
  a global cross join; at 100 TB the candidate set stays ~linear in input;
* hashes are md5 hex strings (identical bytes in Spark and DuckDB), min/agg
  over them is order-insensitive -> output invariant to partitioning;
* signatures are built by explode + two-level aggregation with map-side
  partial combine; no Python, no UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdfcmap_spark.operators.textstats import N_SHINGLE, shingles

N_PERM = 16  #: minhash permutations
N_BANDS = 4  #: LSH bands (rows per band = N_PERM / N_BANDS)
SIMHASH_BITS = 60
#: 4 bands of 15 bits guarantee a shared band only for Hamming <= 3
#: (pigeonhole: 4+ differing bits can spread over all four bands). The verify
#: threshold must not exceed the blocking guarantee or pairs are silently
#: missed. 60 bits (not 32): the band value space is the blocking key — at
#: 8-bit bands every corpus >~10^4 docs collapses into 4x256 buckets and the
#: per-bucket self-join goes quadratic (measured: one straggler task, 657 s,
#: 500k docs). 15-bit bands give 32,768 buckets per band; bucket size stays
#: ~corpus/32k. 60 = 4x15 also keeps the simhash inside a signed 64-bit long
#: (15 md5 hex chars) for both Spark and the DuckDB oracle.
SIMHASH_MAX_HAMMING = 3
SIMHASH_BAND_BITS = SIMHASH_BITS // 4


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical texts: (text_hash, keep_id, n_dups).

    ``keep_id`` = min doc_id (deterministic survivor). One shuffle on the
    128-bit hash — uniformly distributed, skew-free by construction.
    """
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
    )


def minhash_signatures(
    docs: DataFrame, n_perm: int = N_PERM, sh: DataFrame | None = None
) -> DataFrame:
    """(doc_id, seed, minhash) — k salted-md5 min-hashes per document.

    The k "permutations" are md5 with a seed prefix; min over a uniform hash
    per seed is the classic MinHash estimator. explode(seeds) happens
    *after* the per-doc distinct shingle set, so the blow-up is bounded by
    k × shingles and partially aggregated map-side.

    ``sh`` lets a caller share ONE (ideally persisted) shingle frame across
    the candidate and verify stages — Catalyst does not reuse exchanges
    between the otherwise-identical shingle subplans (measured: 24 parquet
    scans in the un-shared verify plan), so without sharing the explode +
    distinct shuffle runs once per consumer.
    """
    sh = shingles(docs, N_SHINGLE) if sh is None else sh
    seeds = F.explode(F.sequence(F.lit(0), F.lit(n_perm - 1))).alias("seed")
    return (
        sh.select("doc_id", "shingle", seeds)
        .groupBy("doc_id", "seed")
        .agg(F.min(F.md5(F.concat_ws("|", F.col("seed"), F.col("shingle")))).alias("minhash"))
    )


def lsh_band_keys(
    docs: DataFrame,
    n_perm: int = N_PERM,
    n_bands: int = N_BANDS,
    sh: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band, band_key) — md5 of the sorted (seed:minhash) rows of
    each band. Equal band_key <=> equal minhash rows in that band."""
    sig = minhash_signatures(docs, n_perm, sh=sh)
    rows_per_band = n_perm // n_bands
    return (
        sig.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.concat_ws(
                    ",",
                    F.array_sort(
                        F.collect_list(F.concat_ws(":", F.col("seed"), F.col("minhash")))
                    ),
                )
            ).alias("band_key")
        )
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    n_perm: int = N_PERM,
    n_bands: int = N_BANDS,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing ≥1 LSH band bucket.

    The self-join key is (band, band_key) — each bucket joins only with
    itself; AQE splits a pathological bucket (all-identical corpus) via
    skew-join. Output is the candidate set for :func:`ngram_jaccard_pairs`.
    """
    bk = lsh_band_keys(docs, n_perm, n_bands, sh=sh)
    left = bk.select("band", "band_key", F.col("doc_id").alias("a"))
    right = bk.select("band", "band_key", F.col("doc_id").alias("b"))
    return (
        left.join(right, ["band", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def _jaccard_from_inter(inter: DataFrame, sizes: DataFrame, min_jaccard: float) -> DataFrame:
    """(a, b, n_inter) ⋈ per-doc shingle counts -> (a, b, n_inter, n_union,
    jaccard[5dp]). Jaccard is one integer division rounded to 5 dp
    (cross-engine stable)."""
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_sh", "na"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_sh", "nb"), "b")
        .select(
            "a",
            "b",
            "n_inter",
            (F.col("na") + F.col("nb") - F.col("n_inter")).alias("n_union"),
            F.round(
                F.col("n_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("n_inter")),
                5,
            ).alias("jaccard"),
        )
    )
    if min_jaccard > 0.0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


def ngram_jaccard_verify(
    docs: DataFrame,
    candidates: DataFrame,
    min_jaccard: float = 0.0,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard for a **given candidate pair set** — the
    verification stage behind :func:`lsh_candidate_pairs`.

    (a, b, n_inter, n_union, jaccard). Cost is O(|candidates| × shingles per
    doc), never quadratic in any block: the candidate list is joined to the
    a-side shingles on ``doc_id`` (an equi-join that fans each pair out by
    a's shingle count — linear), then semi-matched against the b-side
    shingles on ``(doc_id, shingle)``. This is the shape that survives
    100 TB: total work tracks the LSH candidate volume, which banding keeps
    ~linear in corpus size.

    ``sh`` shares a precomputed shingle frame (see
    :func:`minhash_signatures`); this function alone consumes it three
    times (sizes + both join sides).
    """
    sh = shingles(docs, N_SHINGLE) if sh is None else sh
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    cand = candidates.select("a", "b").distinct()
    a_sh = cand.join(sh.select(F.col("doc_id").alias("a"), "shingle"), "a")
    inter = (
        a_sh.join(sh.select(F.col("doc_id").alias("b"), "shingle"), ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    # candidates with zero shingle overlap still get a row (jaccard 0) so the
    # verify output covers the full candidate set
    zero = cand.join(inter.select("a", "b"), ["a", "b"], "left_anti").select(
        "a", "b", F.lit(0).cast("bigint").alias("n_inter")
    )
    return _jaccard_from_inter(inter.unionByName(zero), sizes, min_jaccard)


def ngram_jaccard_pairs(
    docs: DataFrame, block_cols: tuple[str, ...] = ("lang", "source"), min_jaccard: float = 0.0
) -> DataFrame:
    """Exact word-n-gram Jaccard for every pair within a blocking group.

    (a, b, n_inter, n_union, jaccard). **Small-block fallback only** — the
    intersection is a shingle-level equi-join computing ALL pairs within a
    (lang, source) block, which is quadratic in block size; at corpus scale
    use :func:`ngram_jaccard_verify` over :func:`lsh_candidate_pairs`
    output instead (the ``dedup_lsh_verified`` driver query).
    """
    sh = shingles(docs, N_SHINGLE).join(docs.select("doc_id", *block_cols), "doc_id")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    left = sh.select(*block_cols, F.col("doc_id").alias("a"), "shingle")
    right = sh.select(*block_cols, F.col("doc_id").alias("b"), "shingle")
    inter = (
        left.join(right, [*block_cols, "shingle"])
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    return _jaccard_from_inter(inter, sizes, min_jaccard)


def dup_groups(docs: DataFrame, min_jaccard: float = 0.8) -> DataFrame:
    """(doc_id, canonical_id) for EVERY document — the linear-output dedup
    product a training-data pipeline actually consumes (keep one doc per
    near-dup cluster, drop the rest), vs the inherently quadratic pair
    listings of :func:`lsh_candidate_pairs` / :func:`simhash_pairs`.

    Three stages, each chosen for the 100 TB shape:

    1. **Exact collapse first** (md5 groups, min doc_id representative).
       This is the clique defuser: a boilerplate text duplicated K times
       shares every MinHash band, so feeding raw docs to LSH puts a K-doc
       clique in one bucket -> K^2/2 candidate pairs *per clique* (at web
       scale K reaches 10^6 -> 10^12 pairs from one template). Collapsing
       byte-identical docs to one representative caps every clique's LSH
       contribution at ONE row; the K-1 members rejoin via (member -> rep)
       star edges — linear.
    2. **LSH + exact-Jaccard verify over representatives only**
       (:func:`lsh_candidate_pairs` -> :func:`ngram_jaccard_verify`,
       ``jaccard >= min_jaccard``).
    3. **Connected components** over (exact star edges) ∪ (verified rep
       pairs) — the same contraction-CC machinery as entity
       canonicalization (:mod:`rdfcmap_spark.operators.canonicalize`);
       canonical = component min doc_id. Docs in no edge map to themselves.

    Output is invariant to whether LSH ran over members or representatives:
    byte-identical docs have identical shingle sets, so cross-clique
    verified-pair existence is a clique-level property and the component
    structure is unchanged — the DuckDB oracle exploits this by running the
    naive all-docs formulation.

    """
    from rdfcmap_spark.operators import canonicalize

    hashed = docs.select("doc_id", F.md5(F.col("text")).alias("h"))
    groups = hashed.groupBy("h").agg(F.min("doc_id").alias("rep_id"))
    doc_rep = hashed.join(groups, "h").select("doc_id", "rep_id")
    rep_docs = docs.join(groups.select(F.col("rep_id").alias("doc_id")), "doc_id")

    # The shingle frame feeds four consumers (minhash + the verify's
    # sizes/a-side/b-side) and is deliberately RECOMPUTED per consumer, not
    # persisted: a persist() was A/B'd at 500k docs and REJECTED — the
    # cached blocks compete with the verify's half-billion-row joins for
    # the unified memory pool, pushing their sorts/aggregations to disk
    # (>90 GB spill, disk-full DNF, vs 178 s recomputing; BENCH.md). The
    # recompute is one 115 MB-parquet scan + explode + map-side distinct —
    # cheap next to execution memory. The sh= passthrough remains for
    # callers with memory to spare.
    cand = lsh_candidate_pairs(rep_docs)
    verified = ngram_jaccard_verify(rep_docs, cand, min_jaccard=min_jaccard)

    pairs = (
        doc_rep.filter(F.col("doc_id") != F.col("rep_id"))
        .select(F.col("doc_id").alias("a"), F.col("rep_id").alias("b"))
        .unionByName(verified.select("a", "b"))
    )
    return canonicalize.canonical_ids_for_pairs(docs, pairs, "doc_id")


def simhash_groups(docs: DataFrame, max_hamming: int = SIMHASH_MAX_HAMMING) -> DataFrame:
    """(doc_id, canonical_id) for EVERY document via SimHash near-dup pairs
    + connected components — the linear-output twin of
    :func:`simhash_pairs`, completing the groups trio with
    :func:`dup_groups` (shingle-Jaccard) and
    ``similarity.embedding_dup_groups`` (vectors). Canonical = component
    min doc_id; docs with no near-dup map to themselves.

    Scale shape inherits from :func:`simhash_pairs` (32k-bucket banding,
    Hamming filter before the pair distinct); the CC adds ~nothing because
    near-dup cliques are dense and collapse in one contraction round.
    """
    from rdfcmap_spark.operators import canonicalize

    pairs = simhash_pairs(docs, max_hamming).select("a", "b")
    return canonicalize.canonical_ids_for_pairs(docs, pairs, "doc_id")


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 60-bit SimHash over word tokens (with
    multiplicity). Token hash = first 15 md5 hex chars as a 60-bit int; each
    bit contributes ±1; bit set iff the signed sum is > 0.

    Layout: token occurrences are first collapsed to (doc_id, token_hash,
    count) — a map-side-combined aggregate on ints — then ONE groupBy(doc_id)
    computes all 60 signed bit-sums as parallel aggregate expressions (no
    60× row explode, no second shuffle: the per-bit ±w sums are columns, not
    rows). Algebraically identical to the textbook per-occurrence ±1 sums.
    """
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    h = F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10).cast("bigint")
    hashed = tok.select("doc_id", h.alias("h")).groupBy("doc_id", "h").agg(
        F.count("*").alias("w")
    )
    signed_sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.expr(f"shiftright(h, {p})").bitwiseAND(F.lit(1)) == 1, F.col("w")
                ).otherwise(-F.col("w"))
            ).alias(f"s{p}")
            for p in range(SIMHASH_BITS)
        ]
    )
    bit_terms = [
        F.when(F.col(f"s{p}") > 0, F.lit(1 << p).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        for p in range(SIMHASH_BITS)
    ]
    acc = bit_terms[0]
    for t in bit_terms[1:]:
        acc = acc + t
    return signed_sums.select("doc_id", acc.alias("simhash"))


def simhash_pairs(docs: DataFrame, max_hamming: int = SIMHASH_MAX_HAMMING) -> DataFrame:
    """Near-dup pairs by SimHash: block on any equal 15-bit band (a pair
    within Hamming ≤3 of a 60-bit hash must agree on ≥1 of the 4 bands),
    verify with bit_count(xor) ≤ max_hamming. ``max_hamming`` must stay ≤ 3
    or the banding no longer guarantees candidate recall (see
    :data:`SIMHASH_MAX_HAMMING`).

    Scale shape: the join key space is 4 × 2^15 buckets, so bucket size —
    and with it per-bucket join cost — stays ~corpus/32k; the Hamming filter
    runs BEFORE the distinct so the pair-dedup shuffle carries only true
    near-dup pairs, never the band-collision candidates. Output volume is
    inherently quadratic in near-dup clique size (it lists all pairs); for
    corpus-scale dedup use :func:`exact_dedup`-style grouping on the
    signature instead of the pair listing.
    """
    sig = simhash_signatures(docs)
    banded = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
    ).withColumn(
        "band_val",
        F.expr(f"shiftright(simhash, band * {SIMHASH_BAND_BITS})").bitwiseAND(
            F.lit((1 << SIMHASH_BAND_BITS) - 1)
        ),
    )
    left = banded.select("band", "band_val", F.col("doc_id").alias("a"), F.col("simhash").alias("sig_a"))
    right = banded.select("band", "band_val", F.col("doc_id").alias("b"), F.col("simhash").alias("sig_b"))
    return (
        left.join(right, ["band", "band_val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


SPAN_WORDS = 8  #: words per non-overlapping span in :func:`span_dedup`


def span_dedup(docs: DataFrame, span_words: int = SPAN_WORDS) -> DataFrame:
    """Corpus-level repeated-SPAN removal (the C4 / "Deduplicating Training
    Data Makes Language Models Better" intra-corpus pass): every document is
    cut into non-overlapping ``span_words``-word spans; for each distinct
    span text only its FIRST corpus occurrence (min ``(doc_id, span_idx)``)
    survives, and every later occurrence anywhere in the corpus is dropped;
    documents are reassembled from their surviving spans in order.

    Returns ``(doc_id, text, kept, total)`` for EVERY input document —
    ``text`` is the deduplicated rebuild (may be ``''`` when every span of a
    late boilerplate copy was seen earlier), ``kept``/``total`` the span
    counts after/before.

    Scale shape (the point): two shuffles total —

    1. first-occurrence: ``groupBy(span md5)`` with a map-side-combinable
       ``min`` over ONE bigint composite ``doc_id * 2^20 + span_idx``
       (a ``min(struct)`` would fall off hash aggregation into a
       SortAggregate — PLAN gotcha); a hot boilerplate span is ONE grouping
       key with partial aggregation, not a window partition holding every
       occurrence, so skew stays map-side;
    2. reassembly: ``groupBy(doc_id)`` + in-place ``array_sort`` of
       (idx, span) structs — no per-doc window, no second sort exchange.

    The survivors rejoin on the span hash (broadcast-ineligible at corpus
    scale, plain hash join on the same key as the aggregate — AQE reuses the
    partitioning). No Python anywhere. ``span_idx`` is bounded < 2^20
    (8M-word docs at the default width) by the composite encoding; wider
    documents need a wider shift, asserted nowhere because doc corpora cap
    far below it.
    """
    words = F.split(F.col("text"), " ")
    n_spans = F.ceil(F.size(words) / F.lit(span_words)).cast("int")
    spans = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(words, i * span_words + 1, span_words)
                ),
            )
        ).alias("span_idx", "span"),
    )
    keyed = spans.withColumn("h", F.md5(F.col("span"))).withColumn(
        "pos_key", F.col("doc_id") * F.lit(1 << 20) + F.col("span_idx")
    )
    firsts = keyed.groupBy("h").agg(F.min("pos_key").alias("first_key"))
    survivors = keyed.join(firsts, "h").filter(
        F.col("pos_key") == F.col("first_key")
    )
    rebuilt = survivors.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("span_idx"), F.col("span")))
                ),
                lambda s: s["span"],
            ),
        ).alias("text"),
    )
    # total = ceil(|words| / span_words), a pure projection of the scan —
    # NOT a groupBy over the exploded spans (that re-scans and re-shuffles)
    totals = docs.select("doc_id", n_spans.alias("total"))
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            F.coalesce(F.col("kept"), F.lit(0)).alias("kept"),
            "total",
        )
    )


def _fresh_banding_reps(old_docs: DataFrame, new_docs: DataFrame) -> DataFrame:
    """One banding representative per text hash UNSEEN in the old corpus —
    the only documents whose minhash signatures a new batch requires
    (shared by :func:`incremental_dup_groups` and the persisted-index
    maintenance in :func:`incremental_dup_groups_indexed`)."""
    new_h = new_docs.select("doc_id", F.md5("text").alias("h"))
    old_h = old_docs.select("doc_id", F.md5("text").alias("h"))
    return (
        new_h.join(old_h.select("h").distinct(), "h", "left_anti")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .join(new_docs, "doc_id")
    )


def _corpus_banding_reps(docs: DataFrame) -> DataFrame:
    """One banding representative (min doc_id) per distinct text hash."""
    return (
        docs.select("doc_id", F.md5("text").alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .join(docs, "doc_id")
    )


def incremental_dup_groups(
    old_docs: DataFrame,
    old_mapping: DataFrame,
    new_docs: DataFrame,
    min_jaccard: float = 0.8,
    old_band_index: DataFrame | None = None,
) -> DataFrame:
    """Fold a NEW document batch into an existing near-dup canonicalization
    — "dedupe today's crawl against the corpus" — without re-verifying any
    history-vs-history pair. The maintenance twin of :func:`dup_groups`,
    built on the same contract as ``canonicalize.merge_mapping``:

        incremental_dup_groups(old, dup_groups(old), new)
            == dup_groups(old ∪ new)        (exactly, any split)

    The equality holds because (1) all old-old verified pairs are already
    folded into ``old_mapping``'s components, (2) LSH bucket membership and
    the Jaccard verdict depend only on TEXT, so which clique member is the
    banding representative cannot change cross-clique pair existence, and
    (3) components of a union of edge sets don't care which side each edge
    came from.

    Stages, each bounded by the BATCH where it matters:

    1. exact: hash-join the batch against the corpus hashes; star edges
       only for hash groups a new doc touches;
    2. LSH: band keys for the batch's fresh texts vs the corpus
       representatives' band keys (pass ``old_band_index`` — the persisted
       output of :func:`lsh_band_keys` over the old representatives — to
       skip recomputing it; a deployment maintains it as a bucketed table
       and this probe is co-located), plus the batch self-join;
    3. verify: exact shingle-Jaccard over candidate pairs only — shingles
       are computed ONLY for candidate-touching documents (semi-join), so
       the expensive stage (178 of 180 s at the 500k bigscale) tracks the
       batch, never history;
    4. fold: ``merge_mapping`` over the new edges — per-batch CC cost,
       broadcast patch of the old mapping.

    Output: (doc_id, canonical_id) for EVERY document, old and new.
    """
    from rdfcmap_spark.operators import canonicalize

    pad = lambda c: F.format_string("%019d", F.col(c))  # noqa: E731

    new_h = new_docs.select("doc_id", F.md5("text").alias("h"))
    old_h = old_docs.select("doc_id", F.md5("text").alias("h"))
    touched = old_h.unionByName(new_h).join(
        new_h.select("h").distinct(), "h", "left_semi"
    )
    groups = touched.groupBy("h").agg(F.min("doc_id").alias("rep_id"))
    exact_edges = (
        touched.join(groups, "h")
        .filter(F.col("doc_id") != F.col("rep_id"))
        .select(F.col("doc_id").alias("a"), F.col("rep_id").alias("b"))
    )

    # fresh new texts (hash unseen in the corpus), one banding rep per hash
    fresh_reps = _fresh_banding_reps(old_docs, new_docs)
    old_reps = _corpus_banding_reps(old_docs)
    new_bk = lsh_band_keys(fresh_reps)
    old_bk = old_band_index if old_band_index is not None else lsh_band_keys(old_reps)
    cross = (
        new_bk.select("band", "band_key", F.col("doc_id").alias("x"))
        .join(old_bk.select("band", "band_key", F.col("doc_id").alias("y")),
              ["band", "band_key"])
        .select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
    )
    cands = cross.unionByName(lsh_candidate_pairs(fresh_reps)).distinct()

    all_docs = old_docs.unionByName(new_docs)
    cand_ids = (
        cands.select(F.col("a").alias("doc_id"))
        .unionByName(cands.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    verify_docs = all_docs.join(cand_ids, "doc_id", "left_semi")
    verified = ngram_jaccard_verify(verify_docs, cands, min_jaccard=min_jaccard)

    edges = (
        exact_edges.unionByName(verified.select("a", "b"))
        .select(pad("a").alias("src"), pad("b").alias("dst"))
    )
    old_map_str = old_mapping.select(
        pad("doc_id").alias("entity_id"), pad("canonical_id").alias("canonical_id")
    )
    merged = canonicalize.merge_mapping(old_map_str, edges)
    all_ids = all_docs.select("doc_id")
    return (
        all_ids.join(
            merged.withColumnRenamed("entity_id", "node"),
            pad("doc_id") == F.col("node"),
            "left",
        )
        .select(
            "doc_id",
            F.coalesce(F.col("canonical_id").cast("bigint"), F.col("doc_id")).alias(
                "canonical_id"
            ),
        )
    )


def incremental_dup_groups_indexed(
    old_docs: DataFrame,
    old_mapping: DataFrame,
    new_docs: DataFrame,
    index_table: str,
    min_jaccard: float = 0.8,
) -> DataFrame:
    """:func:`incremental_dup_groups` with the corpus LSH band index
    PERSISTED as a versioned :mod:`rdfcmap_spark.sources.table_log` table
    (round 5 — the r4 review asked for the docstring's "pluggable"
    persisted index to be real).

    Protocol per batch:

    1. bootstrap (first call only): sign the existing corpus
       representatives once and commit them as snapshot v1, partitioned
       by ``band`` (the probe side joins on (band, band_key), so the
       partitioned layout is the bucketed-table co-location the base
       docstring promises);
    2. read the CURRENT snapshot as ``old_band_index`` — the old corpus
       is never re-signed: the only minhash work in the batch fold is
       over the batch's fresh representatives;
    3. fold the batch (identical semantics to the stateless call — the
       index is a cache of ``lsh_band_keys(old representatives)``, which
       depends only on text);
    4. append the batch's fresh-representative band keys as the next
       snapshot, so the NEXT batch finds the union index (an all-duplicate
       batch has none and commits no snapshot). The append is
       content-fingerprint idempotent (a restarted job re-appending the
       same batch is absorbed) and optimistically concurrent (O_EXCL).

    Output: identical to ``incremental_dup_groups(old, mapping, new)`` —
    pinned by ``test_indexed_incremental_matches_stateless_and_full``.
    """
    from rdfcmap_spark.sources import table_log

    spark = new_docs.sparkSession
    if table_log.current_version(index_table) is None:
        table_log.commit(
            lsh_band_keys(_corpus_banding_reps(old_docs)),
            index_table,
            mode="overwrite",
            partition_by=["band"],
        )
    old_bk, _snap = table_log.read_table(spark, index_table)
    out = incremental_dup_groups(
        old_docs,
        old_mapping,
        new_docs,
        min_jaccard=min_jaccard,
        old_band_index=old_bk.select("doc_id", "band", "band_key"),
    )
    # batch-sized; checkpointed so the emptiness check does not scan the
    # old corpus a second time. An all-duplicate batch has nothing to
    # index, and an empty append would write no file to read back.
    fresh = _fresh_banding_reps(old_docs, new_docs).localCheckpoint()
    if not fresh.isEmpty():
        table_log.commit(
            lsh_band_keys(fresh), index_table, mode="append", partition_by=["band"]
        )
    return out


def lsh_recall(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Recall gate for the MinHash/LSH index — the dedup twin of
    :func:`rdfcmap_spark.operators.similarity.ann_recall` ("measure, don't
    guess"): how many true near-duplicate pairs does the banded index
    actually surface?

    Ground truth = the exact within-block all-pairs Jaccard
    (:func:`ngram_jaccard_pairs`, the documented quadratic eval fallback)
    at ``jaccard >= threshold``; found = the LSH candidates verified by
    the SAME exact-Jaccard kernel (:func:`ngram_jaccard_verify` over
    :func:`lsh_candidate_pairs`) at the same threshold, restricted to the
    truth's blocking universe for an apples-to-apples recall. Pairs the
    index finds OUTSIDE the blocking (cross-block near-dups the blocked
    eval cannot see) are reported separately — LSH's upside, not an
    error.

    Output: ONE row (threshold5, n_truth, n_found_in_block, n_hits,
    recall5, n_cross_block). Eval-only: the ground truth is quadratic per
    block by definition; at corpus scale run it on a sampled block set.
    """
    truth = ngram_jaccard_pairs(docs).filter(F.col("jaccard") >= threshold).select("a", "b")
    found = ngram_jaccard_verify(docs, lsh_candidate_pairs(docs)).filter(
        F.col("jaccard") >= threshold
    )
    blocks = docs.select("doc_id", "lang", "source")
    fb = (
        found.join(
            blocks.select(
                F.col("doc_id").alias("a"), F.col("lang").alias("_la"), F.col("source").alias("_sa")
            ),
            "a",
        )
        .join(
            blocks.select(
                F.col("doc_id").alias("b"), F.col("lang").alias("_lb"), F.col("source").alias("_sb")
            ),
            "b",
        )
        .withColumn("_same", (F.col("_la") == F.col("_lb")) & (F.col("_sa") == F.col("_sb")))
    )
    # persist the two expensive lineages before counting (r4 ADVICE): the
    # quadratic ground truth and the full LSH+verify chain each feed
    # multiple count actions below — without the persist each action
    # recomputes them from the scan (~3x the work of this already-costly
    # eval). Counts are plain Python ints by the time we return, so both
    # caches are released before the result frame is built.
    truth = truth.persist()
    fb = fb.persist()
    try:
        in_block = fb.filter(F.col("_same")).select("a", "b")
        n_truth = truth.count()
        n_in_block = in_block.count()
        n_hits = in_block.join(truth, ["a", "b"], "left_semi").count()
        n_cross = fb.filter(~F.col("_same")).count()
    finally:
        truth.unpersist()
        fb.unpersist()
    spark = docs.sparkSession
    return spark.createDataFrame(
        [
            (
                round(threshold, 5),
                n_truth,
                n_in_block,
                n_hits,
                round(n_hits / n_truth, 5) if n_truth else None,
                n_cross,
            )
        ],
        "threshold5 double, n_truth long, n_found_in_block long, n_hits long, "
        "recall5 double, n_cross_block long",
    )


def dup_group_sizes(docs: DataFrame, min_jaccard: float = 0.8) -> DataFrame:
    """Cluster-size histogram over :func:`dup_groups` (round 5): how many
    near-dup groups have 1, 2, 3, ... members — the standard dedup
    diagnostic (a fat tail of large clusters means template/boilerplate
    content; a histogram that is all singletons means the thresholds are
    too tight). Two map-side-combinable aggregates on top of the groups
    product; the histogram frame is size-distribution-sized (tiny).

    Output: (group_size, n_groups), ascending by size.
    """
    g = dup_groups(docs, min_jaccard=min_jaccard)
    sizes = g.groupBy("canonical_id").agg(F.count(F.lit(1)).alias("group_size"))
    return (
        sizes.groupBy("group_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_groups"))
        .select(F.col("group_size").cast("long").alias("group_size"), "n_groups")
    )


def lsh_bucket_stats(docs: DataFrame) -> DataFrame:
    """LSH blocking-skew diagnostic (round 5): the bucket-size histogram
    per band — how many (band, band_key) buckets hold 1, 2, 3, ...
    documents. THE operational metric for banded dedup at corpus scale:
    candidate-join mass is Σ c·(c-1)/2 over bucket sizes c, so a fat
    bucket tail is quadratic work concentrating in one task (the
    AQE-skew-join escape hatch exists, but the histogram tells you
    BEFORE the job whether the banding parameters fit the corpus — the
    "measure, don't guess" twin of tools/bucket_audit.py as a
    first-class query).

    Two map-side-combinable aggregates over the band keys; the histogram
    frame is size-distribution-sized.

    Output: (band, bucket_size, n_buckets).
    """
    bk = lsh_band_keys(docs)
    sizes = bk.groupBy("band", "band_key").agg(F.count(F.lit(1)).alias("bucket_size"))
    return (
        sizes.groupBy("band", "bucket_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_buckets"))
        .select(
            F.col("band").cast("int").alias("band"),
            F.col("bucket_size").cast("long").alias("bucket_size"),
            "n_buckets",
        )
    )
