"""Prefix-filtering candidate generation (AllPairs/PPJoin family,
Bayardo/Ma/Srikant WWW'07) over the pipeline's shingle sets.

The third candidate scheme next to MinHash/LSH banding (probabilistic)
and the exact inverted-index self-join (heavy): order shingles globally
by (document frequency asc, shingle) and keep only each doc's RAREST
``n - ceil(t*n) + 1`` shingles — any pair with Jaccard >= t provably
shares a prefix shingle (if none of A's prefix shingles were in B,
the intersection is at most ceil(t*n)-1 < t*n <= t*union). Exact: no
recall knob, unlike LSH banding — which makes it the right default for
high-threshold configs, while LSH remains the choice below the prefix
scheme's selectivity sweet spot.

The pipeline's verify rule is ``jaccard >= t_j OR containment >= t_c``
(operators/verify.py), so exact recall needs TWO legs:

- Jaccard leg: prefix-vs-prefix self-join at t_j (both members of a
  J >= t_j pair carry a shared shingle in their prefixes — Bayardo
  Lemma 1 applied symmetrically), then the PPJoin length filter
  min(|A|,|B|) >= t_j * max(|A|,|B|) before verification;
- containment leg: each doc's containment prefix (rarest
  ``n - ceil(t_c*n) + 1`` shingles) probed against the FULL inverted
  index — for a pair with |A∩B| >= t_c*min, the smaller side's
  containment prefix must hit ANY shingle of the larger (pigeonhole on
  the small side alone; the large side's probe only adds candidates).
  No length filter applies (containment is unbounded by size ratio).

Skew shape: prefix selection inverts the hot-key problem — a doc's
prefix is its RAREST shingles, so boilerplate shingles (the mega-keys
of a naive shingle self-join) only enter a prefix when a doc has
almost no rare content; residual skew is AQE territory. Float
thresholds use an epsilon-guarded ceil that can only LENGTHEN the
prefix (extra candidates, never lost recall).

MEASURED LIMIT of that skew resistance (bench_artifacts/
skew_stress_r5.json): it is threshold-dependent. When a shared
boilerplate block exceeds ``1 - t`` of a doc's shingle set, the
``n - ceil(t*n) + 1`` prefix necessarily reaches into the boilerplate
and every boilerplated doc pair becomes a candidate — the scheme then
degenerates to the exhaustive join (98.3M candidates / 105 s on a 40k
doc corpus whose block is ~55% of a doc at t=0.5, vs the capped LSH
scheme's bounded 4.5M / 9.4 s). This is inherent to exactness: the
pairs ARE potential verify hits (containment through the block). For
boilerplate-heavy corpora, use the capped LSH scheme (drop-accounted)
or strip known boilerplate upstream (chunk-level dedup) before the
prefix join.

ref: the reference's candidate stage is the BK-tree radius walk
(src/main/java/index/BKTreeIndex.java:34-50); this is the set-overlap
analog for the Jaccard/containment verify rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from imageduplicatefinder_spark.config import DedupConfig


def _prefix_len(n: Column, threshold: float) -> Column:
    """``n - ceil(threshold*n) + 1`` with an epsilon guard: subtracting
    1e-9 before ceil makes the computed ceil <= the true ceil, so the
    prefix can only come out LONGER than required (safe direction)."""
    return (
        n - F.ceil(F.lit(float(threshold)) * n - F.lit(1e-9)) + F.lit(1)
    ).cast("int")


def shingle_index(signatures: DataFrame) -> DataFrame:
    """(doc_id, shingle, df) inverted index from the signatures table's
    ``shingles`` column, with global document frequency attached."""
    sh = signatures.filter(F.col("shingles").isNotNull()).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    df_tab = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    return sh.join(df_tab, on="shingle")


def _doc_toks(indexed: DataFrame) -> DataFrame:
    """(doc_id, toks) — each doc's shingles sorted by global (df,
    shingle). Built ONCE per prefix-join: both threshold legs slice the
    same sorted array, so the heavy groupBy + array_sort over the full
    exploded index never runs twice (same one-pass rule as the LSH
    band-stats fold, SCALE.md guard #6)."""
    return indexed.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("toks")
    )


def _slice_prefixes(per_doc: DataFrame, threshold: float,
                    with_size: bool = False) -> DataFrame:
    """(doc_id, shingle[, n]) keeping each doc's rarest
    ``n - ceil(threshold*n) + 1`` shingles from a ``_doc_toks`` table.
    threshold=0.0 keeps everything (the exact scheme). ``with_size``
    rides the doc's set size on every prefix row so join-time filters
    (length ratio, probe-side asymmetry) run map-side on the join
    output instead of as two extra post-distinct joins."""
    p = _prefix_len(F.size("toks"), threshold)
    size_cols = [F.size("toks").alias("n")] if with_size else []
    return per_doc.select(
        "doc_id",
        F.explode(
            F.transform(F.slice("toks", F.lit(1), p), lambda s: s["shingle"])
        ).alias("shingle"),
        *size_cols,
    )


def prefix_candidates(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(src, dst) candidate pairs, src < dst — an EXACT superset of all
    pairs satisfying the verify rule ``jaccard >= cfg.jaccard_threshold
    OR containment >= cfg.containment_threshold`` over the signature
    table's shingle sets (see module docstring for the two-leg
    guarantee). Exact duplicates are assumed collapsed upstream (the
    pipeline's sha256 pre-pass), mirroring the LSH path.
    """
    indexed = shingle_index(signatures)
    # every downstream consumer (both legs' prefixes AND the full sized
    # index) derives from the sorted per-doc token table, so that is
    # the one materialization; set sizes ride the prefix/index rows
    # themselves (one extra int per row), so both legs' pruning filters
    # run map-side on the join output BEFORE the distinct — the old
    # shape distinct'ed the raw join fan-out first and then re-joined
    # sizes twice
    toks = _doc_toks(indexed).localCheckpoint(eager=False)

    # --- Jaccard leg: prefix vs prefix with the PPJoin length filter
    # applied inside the join (a J >= t pair satisfies
    # min(|A|,|B|) >= t * max(|A|,|B|), so filtering the raw join rows
    # can only drop non-qualifying pairs) ----------------------------
    jp = _slice_prefixes(toks, cfg.jaccard_threshold, with_size=True)
    jp = jp.localCheckpoint(eager=False)
    jac = (
        jp.alias("a")
        .join(jp.alias("b"), on="shingle")
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least("a.n", "b.n")
                >= F.lit(float(cfg.jaccard_threshold))
                * F.greatest("a.n", "b.n")
                - F.lit(1e-9)
            )
        )
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )

    # --- containment leg: containment prefix vs FULL inverted index,
    # SMALL side probing only — for a pair with |A∩B| >= t_c*min the
    # pigeonhole applies to the smaller side's prefix alone (module
    # docstring: "the large side's probe only adds candidates"), so
    # probe rows with a strictly larger prefix side are dropped
    # map-side (halves the leg's fan-out; ties keep both orders) ------
    cp = _slice_prefixes(toks, cfg.containment_threshold, with_size=True)
    # the full index WITH sizes is just the per-doc token table
    # re-exploded (threshold 0 keeps every shingle) — no sizes join
    idx_sized = _slice_prefixes(toks, 0.0, with_size=True).withColumnRenamed(
        "n", "n_x"
    )
    cont = (
        cp.alias("p")
        .join(idx_sized.alias("x"), on="shingle")
        .filter(
            (F.col("p.doc_id") != F.col("x.doc_id"))
            & (F.col("p.n") <= F.col("x.n_x"))
        )
        .select(
            F.least("p.doc_id", "x.doc_id").alias("src"),
            F.greatest("p.doc_id", "x.doc_id").alias("dst"),
        )
    )

    # ONE distinct over the union instead of one per leg plus a final
    # one: the hash aggregate's map-side partial dedup absorbs the raw
    # join fan-out either way, so the per-leg exchanges of the
    # almost-final pair sets (2 x ~46M rows at sf1.0) were pure cost
    return jac.union(cont).distinct()


def exact_candidates(signatures: DataFrame) -> DataFrame:
    """(src, dst) for every pair sharing >= 1 shingle — the exhaustive
    inverted-index self-join (candidate superset of ANY overlap-based
    verify rule). Quadratic on hot shingles; for production scale use
    ``prefix_candidates`` (exact for the pipeline rule) or LSH banding.
    """
    sh = signatures.filter(F.col("shingles").isNotNull()).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    sh = sh.localCheckpoint(eager=False)
    return (
        sh.alias("a")
        .join(sh.alias("b"), on="shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .distinct()
    )
