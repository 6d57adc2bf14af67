"""Document deduplication operators (north-star; BASELINE.json).

Four strategies, cheapest first. Everything but SimHash is pure
built-in expressions (codegen'd, no Python in the hot path):

* exact       — md5 over normalized text; one groupBy shuffle.
* minhash+LSH — word-set MinHash signature → band keys → bucket
                groupBy. Candidate generation is ONE shuffle on the
                band key; no pairwise comparison outside buckets. This
                is the 100 TB path: cost is O(corpus) + O(bucket²)
                only inside colliding buckets.
* n-gram Jaccard — exact Jaccard verification over char-5-gram sets
                for candidate pairs (use after LSH to confirm).
* simhash     — 64-bit bitwise-majority signature via Pandas UDF
                (Arrow-batched; the bit-twiddling isn't expressible as
                built-ins without a 64-wide expression fan-out).

Embedding-cosine near-dup lives in ``similarity.py`` (same LSH/bucket
pattern over vector space).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import MINHASH_PRIME, minhash_signature, normalized
from ..sources.io import arrow_batch_defaults, fan_out


def char_ngram_rows(df: DataFrame, id_col: str, text_col: str, n: int = 5) -> DataFrame:
    """(id, gram) rows of char n-grams over normalized text.

    Normalization is materialized in its own projection BEFORE the
    position explode, so the regex runs once per doc; the per-gram work
    is a substr on an attribute. (Putting the normalize expression
    inside a ``transform`` lambda re-evaluates it per element — lambda
    bodies are excluded from codegen subexpression elimination;
    measured 8× slower at sf0.1.) Duplicate grams are kept: downstream
    MIN-aggregation is multiset-insensitive.
    """
    ex = fan_out(df.select(F.col(id_col), normalized(F.col(text_col)).alias("__norm"))).select(
        id_col,
        "__norm",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.length("__norm") - n, F.lit(0)))
        ).alias("__i"),
    )
    return ex.select(id_col, F.col("__norm").substr(F.col("__i") + 1, F.lit(n)).alias("gram"))


def with_char_ngrams(df: DataFrame, id_col: str, text_col: str, n: int = 5) -> DataFrame:
    """(id, grams array<string>) — distinct char n-gram set per doc,
    with the same normalize-once projection barrier as
    :func:`char_ngram_rows`."""
    step = fan_out(df.select(F.col(id_col), normalized(F.col(text_col)).alias("__norm")))
    return step.select(
        id_col,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.length("__norm") - n, F.lit(0))),
                lambda i: F.col("__norm").substr(i + 1, F.lit(n)),
            )
        ).alias("grams"),
    )


def gram_minhash(
    rows: DataFrame,
    id_col: str,
    gram_col: str = "gram",
    n_hashes: int = 8,
    prime: int = MINHASH_PRIME,
) -> DataFrame:
    """MinHash signature over (id, feature) rows (e.g. from
    :func:`char_ngram_rows`). Output: one row per id, columns
    ``gmh_0..n-1``.

    One md5 per feature; the hash family is derived arithmetically from
    the digest halves — h_i(g) = (a(g) + i·b(g)) mod P with
    a = hex[0:15], b = hex[16:31] of md5(g) — so cost is 1 digest per
    feature instead of ``n_hashes``. Both halves parse portably in
    DuckDB (``('0x'||substr)::BIGINT``) for oracle parity.

    Shape: narrow hash → groupBy(id).agg(min×n). Spark's partial
    (map-side) aggregation reduces each partition to one row per id
    before the exchange, so the shuffle payload is n_hashes longs per
    doc — NOT per feature.
    """
    h = rows.select(F.col(id_col), F.md5(F.col(gram_col)).alias("__h"))
    ab = h.select(
        id_col,
        (F.conv(F.substring("__h", 1, 15), 16, 10).cast("long") % prime).alias("__a"),
        (F.conv(F.substring("__h", 17, 15), 16, 10).cast("long") % prime).alias("__b"),
    )
    return ab.groupBy(id_col).agg(
        *[
            F.min((F.col("__a") + F.lit(i) * F.col("__b")) % prime).alias(f"gmh_{i}")
            for i in range(n_hashes)
        ]
    )


#: polynomial rolling-hash bases for the gram hash pair (a, b). Powers
#: are precomputed literals so the per-gram hash is pure 64-bit
#: arithmetic — max term ≈ 1.1e6 (codepoint) × 2.9e8 (base^4) ≈ 3e14,
#: summed ×5 ≈ 1.5e15, far under 2^63.
_POLY_BASE_A = 31
_POLY_BASE_B = 131


def gram_poly_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    n_hashes: int = 8,
    prime: int = MINHASH_PRIME,
) -> DataFrame:
    """MinHash signature over char-``n``-gram sets via a pure-arithmetic
    polynomial hash pair — no digest, no base-16 string parsing.

    Per doc the codepoint array is computed ONCE (one ``transform`` over
    ``split``); each gram position then evaluates
    a(g) = Σ code_k·A^k mod P and b(g) = Σ code_k·B^k mod P as plain
    64-bit multiply-adds over ``element_at`` lookups — all inside one
    whole-stage-codegen span (the hash sits in a projection, NOT a
    lambda body: higher-order-function lambdas are interpreted per
    element and measured 3× slower than this shape at sf0.1). This
    replaces the earlier md5-per-gram + double-``conv`` family, whose
    digest + hex parse dominated the suite. ``groupBy(id).min`` runs
    partial (map-side) aggregation, so the exchange moves ``n_hashes``
    longs per doc, never per gram.

    Polynomial gram hashes are weaker than md5 (structured collisions
    exist) but LSH only needs similar gram SETS to yield similar
    minima; the exact Jaccard verification downstream never trusts the
    hash. Every expression mirrors 1:1 into ANSI SQL (``ascii``, list
    ops, modular arithmetic), so a DuckDB oracle replays the exact
    signature family.

    Output: one row per id, columns ``gmh_0..n_hashes-1`` (long).
    """
    pa = [_POLY_BASE_A**k % prime for k in range(n)]
    pb = [_POLY_BASE_B**k % prime for k in range(n)]

    def poly(powers: list[int]) -> F.Column:
        # __i is the 0-based gram start; try_element_at is 1-based and
        # yields NULL past the end (plain element_at THROWS under ANSI
        # semantics on short/empty docs), which null-coalesces to 0
        # exactly as the SQL mirror does. Cast to long BEFORE the
        # multiply: codepoint × base^4 ≈ 3e14 overflows 32-bit.
        def at(k: int):
            return F.coalesce(
                F.try_element_at(F.col("__codes"), F.col("__i") + F.lit(k + 1)), F.lit(0)
            ).cast("long")

        return sum(at(k) * F.lit(powers[k]) for k in range(n)) % F.lit(prime)

    codes = fan_out(
        df.select(F.col(id_col), normalized(F.col(text_col)).alias("__norm"))
    ).select(
        id_col,
        F.transform(F.split(F.col("__norm"), ""), lambda c: F.ascii(c)).alias("__codes"),
        F.length("__norm").alias("__len"),
    )
    ex = codes.select(
        id_col,
        "__codes",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("__len") - n, F.lit(0)))
        ).alias("__i"),
    )
    ab = ex.select(id_col, poly(pa).alias("__a"), poly(pb).alias("__b"))
    return ab.groupBy(id_col).agg(
        *[
            F.min((F.col("__a") + F.lit(i) * F.col("__b")) % prime).alias(f"gmh_{i}")
            for i in range(n_hashes)
        ]
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical (normalized) texts: one representative (min id)
    plus the duplicate count. Single hash-agg shuffle on the digest —
    at 100 TB the shuffle payload is one 32-byte key per distinct doc."""
    return (
        df.select(F.col(id_col), F.md5(normalized(F.col(text_col))).alias("content_md5"))
        .groupBy("content_md5")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def with_minhash(df: DataFrame, id_col: str, text_col: str, n_hashes: int = 8) -> DataFrame:
    """Attach an n-column MinHash signature (narrow map over a
    fanned-out compact input — 8 digests per word is compute-bound)."""
    return fan_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), *minhash_signature(F.col(text_col), n_hashes)
    )


def lsh_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    bands: int = 2,
) -> DataFrame:
    """Doc → (band_no, bucket) LSH rows: split the MinHash signature
    into ``bands`` bands and md5 each band into a bucket key. Narrow
    map + explode (rows × ``bands``, a small constant) — no shuffle."""
    rows_per_band = n_hashes // bands
    sig = with_minhash(df, id_col, text_col, n_hashes)
    band_cols = [
        F.md5(
            F.concat_ws("|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)])
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col), *band_cols)
    return banded.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_no"), F.col(f"band_{b}").alias("bucket"))
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select(id_col, F.col("bb.band_no").alias("band_no"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_groups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    bands: int = 2,
) -> DataFrame:
    """LSH candidate groups: keep buckets holding >1 doc. Output: one
    row per colliding bucket with the member count and representative
    (min) ids.

    Scale: candidate generation is ONE groupBy shuffle on 32-byte
    bucket keys. No cross join anywhere.
    """
    exploded = lsh_banded(df, id_col, text_col, n_hashes, bands)
    return (
        exploded.groupBy("band_no", "bucket")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def _gram_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    n_hashes: int,
    bands: int,
) -> DataFrame:
    """Doc → (id, band_no, bucket) rows from the char-n-gram
    polynomial MinHash signature: narrow map + explode, no shuffle.
    Shared by the batch self-dedup pair generator and the incremental
    admission check so both block on identical buckets."""
    rows_per_band = n_hashes // bands
    sig = gram_poly_minhash(df, id_col, text_col, n, n_hashes=n_hashes)
    band_cols = [
        F.concat_ws(
            "|", *[F.col(f"gmh_{bd * rows_per_band + r}") for r in range(rows_per_band)]
        ).alias(f"band_{bd}")
        for bd in range(bands)
    ]
    return sig.select(F.col(id_col), *band_cols).select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(F.lit(bd).alias("band_no"), F.col(f"band_{bd}").alias("bucket"))
                for bd in range(bands)
            ])
        ).alias("bb"),
    ).select(id_col, F.col("bb.band_no").alias("band_no"), F.col("bb.bucket").alias("bucket"))


def _bucket_candidate_pairs(
    banded: DataFrame, id_col: str, max_clique_bucket: int
) -> DataFrame:
    """Within-bucket unordered candidate pairs (id_a < id_b) from an
    (id, band_no, bucket) frame, WITHOUT a self-join: a self-join
    references the banded subtree twice and Spark re-executes the
    whole gram+signature pipeline per reference (no automatic CTE
    materialization; measured 3× ≈ +6 s at sf0.1). ONE groupBy
    collects each bucket's (bounded-size) id list and an
    array-combinations expression emits each pair once; buckets above
    ``max_clique_bucket`` fall back to STAR expansion around the min
    id (O(bucket), stays connected). The tiny pair set is pinned with
    localCheckpoint because every caller consumes it twice (id prune +
    verification join)."""
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS id_a, y AS id_b))))"
    )
    star_expr = F.expr(  # O(bucket) fallback for degenerate buckets
        "transform(slice(ids, 2, size(ids)), y -> struct(element_at(ids, 1) AS id_a, y AS id_b))"
    )
    return (
        banded.groupBy("band_no", "bucket")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(
            F.explode(
                F.when(F.size("ids") <= max_clique_bucket, pair_expr).otherwise(star_expr)
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
        .localCheckpoint(eager=True)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 16,
    min_containment: float = 0.9,
    n_hashes: int = 16,
    bands: int = 8,
    max_clique_bucket: int = 256,
) -> DataFrame:
    """ASYMMETRIC set-containment pairs — sub-document duplication the
    symmetric Jaccard stack under-scores: a passage wholly embedded in
    a 10× longer page has J ≈ 0.1 (invisible to
    :func:`ngram_jaccard_pairs`) but containment
    C = |A∩B| / min(|A|, |B|) = 1.

    Candidates come from EIGHT TWO-ROW MinHash bands: per-band
    collision probability J², so recall is 1 − (1−J²)⁸ ≈ 0.9 at the
    J ≈ 0.5 a half-contained fragment lives at — a deliberately
    LOWER-threshold banding than the J ≥ 0.8 Jaccard path. Single-row
    bands would recall more (1 − (1−J)⁸) but their buckets grow
    linearly with the corpus (every doc sharing one frequent min-gram
    lands together), blowing the star cap and collapsing recall at
    scale — measured 99% → 10% from sf0.01 to sf0.1; two-row buckets
    need two shared minima, so bucket mass stays cap-sized as the
    corpus grows. Oversized buckets still take the STAR fallback
    (documented recall trade, same as the Jaccard path). Verification
    is the exact distinct char-n-gram
    intersection over the candidate-pruned corpus; output
    (id_a, id_b, n_a, n_b, n_inter, containment ≥ threshold), sizes
    are the DISTINCT gram-set sizes, containment one rounded division
    of exact integers.

    Scale: signatures are the shuffle-free polynomial family; pairing
    is bucket-bounded; gram arrays are built only for candidate docs
    (semi-join prune) and join via spill-safe sort-merge (the
    broadcast-underestimate hazard documented in
    :func:`ngram_jaccard_pairs`)."""
    banded = _gram_banded(df, id_col, text_col, n, n_hashes, bands)
    cand = _bucket_candidate_pairs(banded, id_col, max_clique_bucket)
    cand_ids = cand.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).distinct()
    grams = with_char_ngrams(
        df.join(cand_ids, on=id_col, how="left_semi"), id_col, text_col, n
    )
    ga = grams.select(
        F.col(id_col).alias("id_a"), F.col("grams").alias("grams_a")
    ).hint("merge")
    gb = grams.select(
        F.col(id_col).alias("id_b"), F.col("grams").alias("grams_b")
    ).hint("merge")
    pairs = cand.join(ga, on="id_a").join(gb, on="id_b")
    na = F.size("grams_a")
    nb = F.size("grams_b")
    inter = F.size(F.array_intersect(F.col("grams_a"), F.col("grams_b")))
    cont = F.round(inter / F.greatest(F.least(na, nb), F.lit(1)), 4)
    return pairs.select(
        "id_a",
        "id_b",
        na.alias("n_a"),
        nb.alias("n_b"),
        inter.alias("n_inter"),
        cont.alias("containment"),
    ).filter(F.col("containment") >= min_containment)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_jaccard: float = 0.8,
    n_hashes: int = 8,
    bands: int = 2,
    max_clique_bucket: int = 256,
) -> DataFrame:
    """Exact char-n-gram Jaccard verification over LSH candidate pairs.

    Candidates come from the MinHash LSH buckets (:func:`lsh_banded`) —
    the only pairwise work happens inside colliding buckets, so cost is
    O(corpus) for signatures + O(Σ bucket²) for pairing, never a
    block-quadratic self-join. (The earlier prefix-block candidate
    scheme went near-quadratic on boilerplate-prefixed corpora.)

    Degenerate buckets (> ``max_clique_bucket`` members — a corpus of
    near-identical boilerplate collapsing into one bucket) would put
    O(bucket²) pairs in a single task; those fall back to STAR
    expansion (every member paired with the bucket's min id), bounding
    per-task work at O(bucket) while keeping the bucket connected for
    downstream clustering. Pairs between two non-hub members of an
    oversized bucket are not emitted/verified — a documented recall
    trade, standard for web-scale near-dedup.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    """
    # MinHash over the SAME char-n-gram sets the verification uses, so
    # the LSH collision probability approximates exactly the Jaccard
    # being verified (word-level signatures degenerate on small-vocab
    # corpora: every doc shares the word set and buckets go quadratic).
    # Signatures come from the shuffle-free polynomial family
    # (:func:`gram_poly_minhash`); bucket keys are the plain
    # concatenated signature slice — no digest needed, the groupBy
    # hashes the key anyway.
    banded = _gram_banded(df, id_col, text_col, n, n_hashes, bands)
    cand = _bucket_candidate_pairs(banded, id_col, max_clique_bucket)
    # verification grams are computed ONLY for docs that appear in some
    # candidate pair — a semi-join prune, so the (expensive) gram-array
    # construction scales with the candidate set, not the corpus
    cand_ids = cand.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).distinct()
    grams = with_char_ngrams(df.join(cand_ids, on=id_col, how="left_semi"), id_col, text_col, n)
    # the gram frames MUST NOT be broadcast: Catalyst sizes them from
    # the documents scan stats (KBs of parquet), but the computed
    # n-gram arrays are ~n x the text bytes per row — at 10x corpus
    # scale the underestimated broadcast build OOMs the driver
    # (observed in the sf1 replica run; a shuffle_hash relation of the
    # same arrays then overflows executor memory). merge (sort-merge)
    # is the spill-safe strategy for join sides carrying heavy computed
    # columns: sorts spill to disk, nothing must fit in one allocation.
    ga = grams.select(F.col(id_col).alias("id_a"), F.col("grams").alias("grams_a")).hint(
        "merge"
    )
    gb = grams.select(F.col(id_col).alias("id_b"), F.col("grams").alias("grams_b")).hint(
        "merge"
    )
    pairs = cand.join(ga, on="id_a").join(gb, on="id_b")
    inter = F.size(F.array_intersect(F.col("grams_a"), F.col("grams_b")))
    union = F.size(F.array_union(F.col("grams_a"), F.col("grams_b")))
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(inter / F.greatest(union, F.lit(1)), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def winnow_fingerprint_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    window: int = 4,
    prime: int = MINHASH_PRIME,
) -> DataFrame:
    """(id, fp) rows — the doc's DISTINCT winnowing fingerprints
    (Schleimer/Wilkerson/Aiken, the MOSS local-document-fingerprinting
    scheme): hash every char-``n``-gram, then keep the MINIMUM hash of
    each ``window`` of consecutive gram positions. Winnowing guarantees
    any shared substring of length ≥ n + window − 1 yields at least one
    shared fingerprint, so overlap detection needs only an equi-join on
    fingerprint values — never substring comparison.

    Shape: the gram hash is the same pure-arithmetic polynomial family
    as :func:`gram_poly_minhash`, evaluated in a PROJECTION after a
    position explode (codegen'd; hash-in-a-transform-lambda is
    interpreted per element). The window minimum is a per-DOC window
    frame (``ROWS BETWEEN CURRENT ROW AND window-1 FOLLOWING``) — the
    one shuffle partitions by doc id, so frame state is bounded by a
    single document's gram count regardless of corpus size; there is no
    global ordering anywhere. Trailing frames truncate at the doc edge,
    and docs shorter than a full window still emit their (truncated)
    position-0 fingerprint, so every non-empty doc is represented.
    """
    pa = [_POLY_BASE_A**k % prime for k in range(n)]

    def at(k: int):
        return F.coalesce(
            F.try_element_at(F.col("__codes"), F.col("__i") + F.lit(k + 1)), F.lit(0)
        ).cast("long")

    poly_h = sum(at(k) * F.lit(pa[k]) for k in range(n)) % F.lit(prime)
    codes = fan_out(
        df.select(F.col(id_col), normalized(F.col(text_col)).alias("__norm"))
    ).select(
        id_col,
        F.transform(F.split(F.col("__norm"), ""), lambda c: F.ascii(c)).alias("__codes"),
        F.length("__norm").alias("__len"),
    )
    ex = codes.select(
        id_col,
        "__codes",
        # __g = number of gram positions (last start index is __g - 1)
        (F.greatest(F.col("__len") - n, F.lit(0)) + 1).alias("__g"),
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("__len") - n, F.lit(0)))
        ).alias("__i"),
    )
    hashed = ex.select(id_col, "__g", "__i", poly_h.alias("__h"))
    frame = (
        Window.partitionBy(id_col)
        .orderBy(F.col("__i").asc())
        .rowsBetween(Window.currentRow, window - 1)
    )
    return (
        hashed.select(
            F.col(id_col),
            F.col("__i"),
            F.col("__g"),
            F.min("__h").over(frame).alias("fp"),
        )
        # only full windows select fingerprints (positions 0..g-window);
        # short docs (g < window) keep their single truncated window
        .filter(F.col("__i") <= F.greatest(F.col("__g") - window, F.lit(0)))
        .select(id_col, "fp")
        .distinct()
    )


def winnow_shared_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    window: int = 4,
    min_shared: int = 8,
    max_clique_bucket: int = 256,
) -> DataFrame:
    """Near-dup pairs by SHARED winnowing fingerprints: docs are paired
    per colliding fingerprint value and scored by how many distinct
    fingerprints they share. Output: (id_a, id_b, n_shared) with
    id_a < id_b and n_shared ≥ ``min_shared``.

    Scale: candidate pairing is a self-EQUI-join on the fingerprint
    value (the pinned fingerprint frame is tiny relative to the
    corpus: ≤ grams/window rows per doc), with bucket sizes joined in
    to apply the same O(bucket) STAR fallback as
    :func:`ngram_jaccard_pairs` for degenerate buckets — a boilerplate
    fingerprint shared by thousands of docs pairs members with the hub
    (min id) only. The join formulation mirrors the SQL oracle 1:1 and
    stays in whole-stage codegen; the earlier collect_list +
    array-combinations emission evaluated interpreted higher-order
    lambdas once per bucket, which dominated the runtime on corpora
    with many small buckets (measured 2× slower at sf0.1). The final
    shared-count is a hash-agg over emitted pair rows.
    """
    fps = winnow_fingerprint_rows(df, id_col, text_col, n, window).localCheckpoint(
        eager=True
    )
    sizes = fps.groupBy("fp").agg(
        F.count("*").alias("__n"), F.min(id_col).alias("__hub")
    )
    a = fps.select(F.col("fp"), F.col(id_col).alias("id_a"))
    b = fps.select(F.col("fp"), F.col(id_col).alias("id_b"))
    shared = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .join(sizes, "fp")
        .filter(
            (F.col("__n") <= max_clique_bucket) | (F.col("id_a") == F.col("__hub"))
        )
    )
    return (
        shared.groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def substring_span_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 16,
    window: int = 8,
    min_shared: int = 8,
) -> DataFrame:
    """EXACT repeated-substring spans between winnowing candidates —
    the Lee et al. (2022) 'Deduplicating Training Data Makes Language
    Models Better' measurement: not just THAT two documents overlap
    (fingerprints), but HOW LONG the longest exactly-shared substring
    is. Winnowing (:func:`winnow_shared_pairs`) proposes candidate
    pairs; this verifies them with exact STRING n-grams (no hash in
    the verify path — no collisions by construction).

    Method: every candidate pair joins its positional char-``n``-grams
    on gram EQUALITY; a shared substring of length L ≥ n appears as a
    run of L − n + 1 consecutive matches on one DIAGONAL (pa − pb
    constant), so the classic gaps-and-islands trick (island =
    pa − row_number within (pair, diagonal)) recovers every maximal
    shared span exactly: ``lcs_len`` = max(run) + n − 1 is the longest
    common substring (≥ n; shorter commonality is out of contract),
    ``n_runs`` the count of maximal shared spans, ``n_match`` the
    total matched gram-position pairs.

    Scale: the quadratic alternative (suffix automaton per pair) is
    replaced by joins keyed on (candidate pair, gram) — cost is
    Σ_pairs (matched positions), bounded because candidates already
    share ≥ ``min_shared`` fingerprints and the diagonal windows
    partition by (pair, diagonal) with frame state bounded by one
    document's gram count. Never all-pairs: candidate generation is
    the capped winnowing equi-join."""
    # pinned: consumed twice below (id prune + verify join) — the
    # file-wide pair-set discipline
    cand = winnow_shared_pairs(
        df, id_col, text_col, n=n, window=window, min_shared=min_shared
    ).localCheckpoint(eager=True)
    # positional grams only for docs that appear in some candidate pair
    # (the ngram_jaccard_pairs semi-join prune): verify cost scales
    # with the candidate set, not the corpus
    cand_ids = cand.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).distinct()
    nrm = fan_out(
        df.join(cand_ids, on=id_col, how="left_semi").select(
            F.col(id_col), normalized(F.col(text_col)).alias("__norm")
        )
    ).filter(F.length("__norm") >= n)
    grams = nrm.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.lit(1), F.length("__norm") - F.lit(n - 1))
        ).alias("p"),
        F.col("__norm"),
    ).select(
        F.col(id_col),
        F.col("p"),
        F.col("__norm").substr(F.col("p"), F.lit(n)).alias("gram"),
    )
    ga = grams.select(
        F.col(id_col).alias("id_a"), F.col("p").alias("pa"), "gram"
    )
    gb = grams.select(
        F.col(id_col).alias("id_b"), F.col("p").alias("pb"), "gram"
    )
    m = cand.join(ga, "id_a").join(gb, ["id_b", "gram"])
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    r = m.select(
        "id_a",
        "id_b",
        "n_shared",
        "pa",
        (F.col("pa") - F.col("pb")).alias("diag"),
    ).withColumn("island", F.col("pa") - F.row_number().over(w))
    runs = r.groupBy("id_a", "id_b", "n_shared", "diag", "island").agg(
        F.count(F.lit(1)).alias("run")
    )
    return runs.groupBy("id_a", "id_b", "n_shared").agg(
        (F.max("run") + F.lit(n - 1)).alias("lcs_len"),
        F.count(F.lit(1)).alias("n_runs"),
        F.sum("run").alias("n_match"),
    )


def passage_fingerprint_rows(
    df: DataFrame, id_col: str, text_col: str, width: int = 10
) -> DataFrame:
    """(id, passage_md5) rows — md5 fingerprints of NON-overlapping
    ``width``-word passages (whitespace tokens). Docs with fewer than
    ``width`` words emit nothing; a trailing partial passage is not
    fingerprinted. The fan-out → explode → narrow-hash shape mirrors
    :func:`char_ngram_rows`; downstream grouping is one hash-agg
    shuffle on 32-byte digests."""
    words = (
        fan_out(
            df.select(F.col(id_col), F.trim(F.col(text_col)).alias("__t")).filter(
                F.length("__t") > 0
            )
        )
        .select(id_col, F.split(F.col("__t"), r"\s+").alias("__words"))
        .filter(F.size("__words") >= width)
    )
    return words.select(
        id_col,
        F.explode(
            F.sequence(F.lit(0), F.size("__words") - width, F.lit(width))
        ).alias("__i"),
        "__words",
    ).select(
        id_col,
        F.md5(F.concat_ws(" ", F.slice(F.col("__words"), F.col("__i") + 1, width))).alias(
            "passage_md5"
        ),
    )


def simhash_arith(
    df: DataFrame,
    id_col: str,
    text_col: str,
    nbits: int = 48,
) -> DataFrame:
    """(id, simhash) — ``nbits``-wide SimHash from PURE built-in
    expressions, the SQL-expressible sibling of :func:`simhash` (whose
    64-bit blake2b family needs Python). Word hash = low ``nbits`` of
    md5's first 15 hex chars (the cross-engine arithmetic family from
    :func:`gram_minhash`), per-bit ±count majority vote, tie → 0.

    Shape: explode to (doc, word), count duplicates FIRST (one md5 per
    distinct word-in-doc, not per occurrence), then one groupBy(doc)
    computing all ``nbits`` signed sums map-side — the shuffle moves
    nbits longs per doc. The bit fan-out lives in PROJECTION/AGG
    expressions, all codegen'd; this is exactly the "64-wide expression
    fan-out" the Pandas variant avoids, traded here for oracle parity
    and zero Python.
    """
    words = fan_out(
        df.select(F.col(id_col), normalized(F.col(text_col)).alias("__norm"))
    ).select(id_col, F.explode(F.split(F.col("__norm"), " ")).alias("__w"))
    h = F.conv(F.substring(F.md5("__w"), 1, 15), 16, 10).cast("long") % F.lit(1 << nbits)
    wh = (
        words.groupBy(id_col, "__w")
        .agg(F.count("*").alias("__cnt"))
        .select(id_col, "__cnt", h.alias("__h"))
    )
    sums = wh.groupBy(id_col).agg(
        *[
            F.sum(
                F.col("__cnt") * (F.shiftright(F.col("__h"), b) % 2 * 2 - 1)
            ).alias(f"__s{b}")
            for b in range(nbits)
        ]
    )
    sig = sum(
        (F.col(f"__s{b}") > 0).cast("long") * F.lit(1 << b) for b in range(nbits)
    )
    return sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    nbits: int = 48,
    bands: int = 4,
    max_hamming: int = 3,
    max_clique_bucket: int = 256,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded: signatures
    split into ``bands`` equal bit-bands; docs sharing ANY band value
    become candidates (pigeonhole: hamming ≤ bands−1 ⇒ some band is
    equal, so recall is exact for ``max_hamming`` < bands); candidates
    are verified with ``bit_count(sig_a XOR sig_b)``. Output:
    (id_a, id_b, hamming), id_a < id_b, hamming ≤ ``max_hamming``.

    Scale: candidate generation is ONE groupBy on (band_no, band_value)
    — never all-pairs — with the same O(bucket) STAR fallback as
    :func:`ngram_jaccard_pairs` for degenerate buckets; verification
    joins the tiny pair set back to the 1-row-per-doc signature frame.
    """
    if nbits % bands:
        raise ValueError(f"nbits={nbits} not divisible by bands={bands}")
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs > {max_hamming} bands for the "
            f"pigeonhole recall guarantee, got bands={bands}: a pair at that "
            "distance can differ in every band and never become a candidate"
        )
    width = nbits // bands
    sig = simhash_arith(df, id_col, text_col, nbits).localCheckpoint(eager=False)
    banded = sig.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_no"),
                    (F.shiftright(F.col("simhash"), b * width) % F.lit(1 << width)).alias(
                        "band_val"
                    ),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select(id_col, "bb.band_no", "bb.band_val")
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS id_a, y AS id_b))))"
    )
    star_expr = F.expr(
        "transform(slice(ids, 2, size(ids)), y -> struct(element_at(ids, 1) AS id_a, y AS id_b))"
    )
    cand = (
        banded.groupBy("band_no", "band_val")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(
            F.explode(
                F.when(F.size("ids") <= max_clique_bucket, pair_expr).otherwise(star_expr)
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    sa = sig.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("__sa"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("__sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


_SIMHASH_SCHEMA = "doc_id long, simhash long"


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash via Arrow-batched Pandas UDF (mapInPandas).

    Per doc: hash each word to 64 bits (blake2b, stable across runs and
    workers — no PYTHONHASHSEED dependence), sum ±1 per bit position,
    sign → signature bit. Near-dups differ in few bits (hamming).
    """
    import hashlib

    import numpy as np

    def _batches(it):
        for pdf in it:
            word_lists = pdf[text_col].fillna("").str.lower().str.split()
            lens = word_lists.str.len().to_numpy(dtype=np.int64)
            flat = [w for ws in word_lists for w in ws]
            n_docs = len(pdf)
            if not flat:
                yield pd.DataFrame(
                    {"doc_id": pdf[id_col].to_numpy(), "simhash": np.zeros(n_docs, dtype=np.int64)}
                )
                continue
            # hash only DISTINCT words (big win: stopwords repeat), then
            # fan out per occurrence via the inverse index
            uniq, inv = np.unique(np.array(flat, dtype=object), return_inverse=True)
            digests = b"".join(
                hashlib.blake2b(w.encode(), digest_size=8).digest() for w in uniq
            )
            # big-endian bit layout: column j == bit (63-j) of the int,
            # matching int.from_bytes(digest, "big") semantics
            bits = np.unpackbits(
                np.frombuffer(digests, dtype=np.uint8).reshape(-1, 8), axis=1
            )
            contrib = bits.astype(np.int32) * 2 - 1  # (n_uniq, 64) of ±1
            # per-doc word-occurrence counts × contrib, chunked so the
            # dense occurrence matrix stays within a fixed memory budget
            n_uniq = len(uniq)
            ends = np.cumsum(lens)
            starts = ends - lens
            counts = np.empty((n_docs, 64), dtype=np.int32)
            chunk = max(1, 16_000_000 // max(n_uniq, 1))
            for lo in range(0, n_docs, chunk):
                hi = min(lo + chunk, n_docs)
                seg = inv[starts[lo]:ends[hi - 1]] if ends[hi - 1] > starts[lo] else inv[:0]
                doc_idx = np.repeat(np.arange(hi - lo), lens[lo:hi])
                occ = np.bincount(
                    doc_idx * n_uniq + seg, minlength=(hi - lo) * n_uniq
                ).reshape(hi - lo, n_uniq)
                counts[lo:hi] = occ.astype(np.int32) @ contrib
            sig_bits = (counts > 0).astype(np.uint8)
            packed = np.packbits(sig_bits, axis=1)  # big-endian bytes
            u64 = packed.view(">u8").ravel().astype(np.uint64)
            sigs = u64.view(np.int64)  # two's-complement reinterpret
            yield pd.DataFrame({"doc_id": pdf[id_col].to_numpy(), "simhash": sigs})

    arrow_batch_defaults(df.sparkSession)
    return fan_out(df.select(F.col(id_col), F.col(text_col))).mapInPandas(_batches, _SIMHASH_SCHEMA)


def deletion_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_len: int = 32,
) -> DataFrame:
    """Edit-distance-1 similarity join via SymSpell deletion-
    neighborhood blocking: every string expands to its ≤ ``max_len``+1
    single-deletion variants (plus itself); two strings within
    Levenshtein distance 1 ALWAYS share a variant (substitution at j →
    both delete j; insertion/deletion → the shorter string is itself a
    variant of the longer), so an equi-join on the variant key has
    perfect recall — no all-pairs comparison anywhere. Sharing a
    variant only bounds the distance by 2, so survivors are verified
    with the exact ``levenshtein`` (JVM built-in) before emission.

    Scale: the expansion is a narrow ~L× explode; candidates meet in
    ONE hash shuffle on the variant string (the classic blocking join
    — skew bounded by how many strings share a variant, i.e. by real
    near-duplicate density); verification touches only candidate
    pairs. This is the same index SymSpell builds driver-side, laid
    out as a distributed join. Strings longer than ``max_len`` raise:
    silently truncating variants would break the recall guarantee.

    Output: (id_a, id_b, name_a, name_b, edit_dist) with id_a < id_b,
    one row per pair.
    """
    raw = F.col(name_col)
    # lazy guard: raises inside the scan if any name exceeds max_len —
    # no extra job at plan-construction time
    nm = F.when(
        F.length(raw) > max_len,
        F.raise_error(
            F.concat(
                F.lit(f"deletion_neighborhood_pairs: {name_col} exceeds max_len={max_len}: "),
                raw,
            )
        ),
    ).otherwise(raw)
    i = F.explode(
        F.filter(
            F.sequence(F.lit(0), F.lit(max_len)), lambda x: x <= F.length(nm)
        )
    ).alias("__i")
    variants = df.select(
        F.col(id_col).alias("__id"), nm.alias("__nm"), i
    ).select(
        "__id",
        "__nm",
        F.concat(
            F.col("__nm").substr(F.lit(1), F.col("__i")),
            F.col("__nm").substr(F.col("__i") + 2, F.lit(max_len)),
        ).alias("__v"),
    )
    a, b = variants.alias("a"), variants.alias("b")
    cands = (
        a.join(b, F.col("a.__v") == F.col("b.__v"))
        .filter(F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__nm").alias("name_a"),
            F.col("b.__nm").alias("name_b"),
        )
        .distinct()
    )
    return cands.select(
        "id_a",
        "id_b",
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").alias("edit_dist"),
    ).filter(F.col("edit_dist") <= 1)


def incremental_neardup_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_jaccard: float = 0.8,
    n_hashes: int = 8,
    bands: int = 2,
    max_corpus_bucket: int = 256,
) -> DataFrame:
    """Incremental near-dup ADMISSION check: which docs of a NEW batch
    near-duplicate the EXISTING corpus — the nightly-ingest shape of
    dedup (the batch must be vetted against everything already
    admitted, without re-pairing the corpus against itself). Blocking
    uses the SAME char-n-gram MinHash bands as the batch self-dedup
    (:func:`ngram_jaccard_pairs`), so a doc pair blocks identically
    whether it meets in a self-dedup or an admission run; verification
    is the same exact n-gram Jaccard.

    Candidates are batch×corpus ONLY (the join is banded batch rows
    against banded corpus rows — corpus×corpus pairs never form), and
    a degenerate corpus bucket (> ``max_corpus_bucket`` members —
    boilerplate collapse) pairs each batch doc with the bucket's min
    corpus id only, bounding per-bucket work at O(batch-side) with the
    same documented recall trade as the self-dedup star fallback. The
    corpus bucket stats come from a window over the banded corpus
    rows, not a re-aggregated second subtree — the signature pipeline
    executes once per side.

    Output: (new_id, corpus_id, jaccard ≥ threshold) — the batch rows
    to reject (or route to human review) before appending.

    Scale: in production the corpus side of the band join is a STORED
    signature index (written at admission time), so the incremental
    cost is O(|batch| signatures + candidate verifications): the
    corpus text is touched only for the (semi-join-pruned) docs that
    actually collide with the batch. Caller contract: the two id sets
    are disjoint (an id present on both sides would legitimately
    report itself as a duplicate).
    """
    from pyspark.sql import Window

    cb = _gram_banded(corpus, id_col, text_col, n, n_hashes, bands).select(
        F.col(id_col).alias("corpus_id"), "band_no", "bucket"
    )
    nb = _gram_banded(batch, id_col, text_col, n, n_hashes, bands).select(
        F.col(id_col).alias("new_id"), "band_no", "bucket"
    )
    w = Window.partitionBy("band_no", "bucket")
    cb = cb.withColumn("__n_cor", F.count("*").over(w)).withColumn(
        "__hub", F.min("corpus_id").over(w)
    )
    cand = (
        nb.join(cb, ["band_no", "bucket"])
        .filter(
            (F.col("__n_cor") <= max_corpus_bucket)
            | (F.col("corpus_id") == F.col("__hub"))
        )
        .select("new_id", "corpus_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # verification grams only for colliding docs, per side; merge hints
    # for the same heavy-computed-column reason as the self-dedup path
    new_ids = cand.select(F.col("new_id").alias(id_col)).distinct()
    cor_ids = cand.select(F.col("corpus_id").alias(id_col)).distinct()
    gn = with_char_ngrams(
        batch.join(new_ids, on=id_col, how="left_semi"), id_col, text_col, n
    ).select(F.col(id_col).alias("new_id"), F.col("grams").alias("grams_n")).hint("merge")
    gc = with_char_ngrams(
        corpus.join(cor_ids, on=id_col, how="left_semi"), id_col, text_col, n
    ).select(F.col(id_col).alias("corpus_id"), F.col("grams").alias("grams_c")).hint("merge")
    pairs = cand.join(gn, on="new_id").join(gc, on="corpus_id")
    inter = F.size(F.array_intersect(F.col("grams_n"), F.col("grams_c")))
    union = F.size(F.array_union(F.col("grams_n"), F.col("grams_c")))
    return pairs.select(
        "new_id",
        "corpus_id",
        F.round(inter / F.greatest(union, F.lit(1)), 4).alias("jaccard"),
    ).filter(F.col("jaccard") >= min_jaccard)


def prefix_filter_pairs(
    tokens: DataFrame,
    id_col: str,
    token_col: str,
    theta_num: int,
    theta_den: int,
) -> DataFrame:
    """EXACT Jaccard similarity self-join via prefix filtering (the
    SSJoin/PPJoin family) — the no-false-negative complement to the
    MinHash-LSH band join (:func:`ngram_jaccard_pairs`): LSH trades
    recall for near-constant candidate cost; the prefix filter keeps
    PERFECT recall and bounds candidates by token rarity instead.

    ``tokens`` is the DISTINCT (id, token) set representation;
    ``theta_num/theta_den`` the rational Jaccard threshold (e.g. 4/5).
    Every token set is ordered by GLOBAL document frequency (rarest
    first, ties by token — one total order on both sides), and only
    its first ``|T| − ceil(θ·|T|) + 1`` tokens can generate candidate
    pairs: a pair with J ≥ θ shares ≥ ceil(θ·|T|) tokens, which cannot
    all hide in a suffix of length ceil(θ·|T|) − 1, so it ALWAYS meets
    in some prefix token (exactness pinned against brute force in
    tests/test_dedup.py). The join predicate additionally applies the
    two classic PPJoin prunes, both exact-integer: the LENGTH filter
    (J ≥ θ forces θden·|A| ≥ θnum·|B| both ways) and the POSITIONAL
    filter (overlap ≤ 1 + min remaining suffix after the matched
    positions, which must reach α = ceil(θ(|A|+|B|)/(1+θ)); the bound
    is monotone in the positions, so testing every matched token is
    equivalent to PPJoin's first-match test — no false negatives).
    Survivors are verified with the exact integer cross-multiplied
    test θden·|A∩B| ≥ θnum·|A∪B| — no float in the decision;
    ``jaccard`` rounds one division at 4 dp.

    Scale: one groupBy for document frequencies, one for per-doc sets;
    the candidate equi-join runs only on PREFIX tokens — the rarest
    (1−θ)-fraction of each set — with the length/positional prunes
    evaluated inside the join, so bucket fan-out is bounded by
    rare-token frequency and shrinks as θ → 1 (measured at sf0.1:
    24.7M raw prefix collisions → 0.4M candidates at θ = 0.9). No
    all-pairs comparison anywhere.

    Token-id encoding (r17, guide §2.3 narrower types): every token is
    represented downstream by ``xxhash64(token)``, computed INLINE (no
    dictionary join, no extra shuffle), after ONE vocabulary-bounded
    aggregate proves the hash is injective ON THIS TOKEN SET
    (count distinct tokens == count distinct hashes); the ~2⁻⁶⁴·|V|²
    collision case falls back to the original string path, so the
    operator is exact on EVERY input, not almost-every. Under a
    bijection |A∩B| and |A∪B| are unchanged, and any consistent total
    order supports the prefix theorem, so ordering positions by
    (df, hash) instead of (df, token) moves WHICH tokens form each
    prefix but provably cannot lose a J ≥ θ pair — the exact verify
    decides membership either way (pinned against brute force in
    tests/test_dedup.py). The win: the per-doc position sort, the
    candidate equi-join key, the per-doc sets, and the verify's
    array_intersect all run on primitive longs instead of UTF8
    strings — the verify stage's set-intersections over ~400k
    candidate pairs × ~200-token arrays dominated the whole plan's
    CPU (measured 59 s of the plan's 100 s at sf0.1).

    The injectivity probe is an EAGER Spark job: it runs ``.first()``
    when this function is called, before the returned plan executes,
    and the plan then re-reads ``tokens``. So ``tokens`` must be
    deterministic between the probe and execution (a table scan, or a
    checkpointed frame); a nondeterministic input (``rand()``, a
    sample, a source rewritten in between) may hold a token set the
    probe never saw, and a hash collision in it would go undetected.

    Output: (id_a, id_b, inter_size, union_size, jaccard), id_a < id_b.
    """
    tid, tok = F.col(id_col), F.col(token_col)
    # a NULL token belongs to no set (collect_set and the equi-joins
    # skip it on the string path); dropping it up front keeps the probe
    # honest too — countDistinct skips NULL but xxhash64(NULL) = 42
    # counts, which would turn the hash path off for nothing
    tokens = tokens.filter(tok.isNotNull())
    probe = tokens.agg(
        F.countDistinct(tok).alias("__nt"),
        F.countDistinct(F.xxhash64(tok)).alias("__nh"),
    ).first()
    hash_ok = probe["__nt"] == probe["__nh"]
    tid_expr = F.xxhash64(tok) if hash_ok else tok
    arr = tokens.groupBy(id_col).agg(F.collect_set(tid_expr).alias("__toks"))
    sz = arr.select(tid, F.size("__toks").cast("long").alias("__n"))
    dfq = tokens.groupBy(token_col).agg(F.count("*").alias("__df"))

    def ceil_div(x, d):
        # exact integer ceil(x/d): (x − pmod(x,d))/d on a +d−1 shifted
        # numerator — no float can perturb the boundary
        y = x + F.lit(d - 1)
        return ((y - F.pmod(y, F.lit(d))) / F.lit(d)).cast("long")

    plen = F.col("__n") - ceil_div(F.lit(theta_num) * F.col("__n"), theta_den) + F.lit(1)
    pos = F.row_number().over(
        Window.partitionBy(id_col).orderBy(F.col("__df"), tid_expr)
    )
    pre = (
        tokens.join(dfq, token_col)
        .join(sz, id_col)
        .withColumn("__pos", pos)
        .filter(F.col("__pos") <= plen)
        .select(
            tid.alias("__id"),
            tid_expr.alias("__tok"),
            F.col("__n"),
            F.col("__pos").cast("long").alias("__pp"),
        )
    )
    an, bn = F.col("a.__n"), F.col("b.__n")
    # PPJoin pruning inside the join predicate — both exact-integer:
    # length filter (J ≥ θ bounds the size ratio by θ) and positional
    # filter (overlap ≤ 1 + min remaining suffix; must reach
    # α = ceil(θ(na+nb)/(1+θ)), and the bound is monotone in the match
    # positions, so testing each matched token is first-match-exact)
    alpha = ceil_div(F.lit(theta_num) * (an + bn), theta_num + theta_den)
    # NOTE (r17): a length-band equi-key ((token, floor(log_{1/θ}|T|))
    # with the probe side exploded ±2 bands) was built and A/B'd to cut
    # the rows the join FORMS (10.9M token-only collisions → ~7M at
    # sf0.1); interleaved A/B against this shape: 4.82 s vs 4.66 s —
    # REJECTED. With long join keys, forming-and-filtering a collision
    # row costs less than the ×5 probe-side explode it saves.
    cand = (
        pre.alias("a")
        .join(
            pre.alias("b"),
            (F.col("a.__tok") == F.col("b.__tok"))
            & (F.col("a.__id") < F.col("b.__id"))
            & (F.lit(theta_den) * an >= F.lit(theta_num) * bn)
            & (F.lit(theta_den) * bn >= F.lit(theta_num) * an)
            & (
                F.lit(1)
                + F.least(an - F.col("a.__pp"), bn - F.col("b.__pp"))
                >= alpha
            ),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    ga = arr.select(tid.alias("id_a"), F.col("__toks").alias("__ta"))
    gb = arr.select(tid.alias("id_b"), F.col("__toks").alias("__tb"))
    inter = F.size(F.array_intersect("__ta", "__tb")).cast("long")
    union = (F.size("__ta") + F.size("__tb")).cast("long") - inter
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select(
            "id_a",
            "id_b",
            inter.alias("inter_size"),
            union.alias("union_size"),
        )
        .filter(
            F.lit(theta_den) * F.col("inter_size")
            >= F.lit(theta_num) * F.col("union_size")
        )
        .withColumn(
            "jaccard", F.round(F.col("inter_size") / F.col("union_size"), 4)
        )
    )
