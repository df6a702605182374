"""Deduplication operators for training-data pipelines (task brief:
exact, MinHash+LSH, SimHash, n-gram Jaccard). All pure native DataFrame
expressions — no Python in the hot path — and every hash is *portable*
(md5/hex), so an independent engine (DuckDB oracle) reproduces results
bit-for-bit.

Scale notes:
- exact: one shuffle on the digest (partial agg map-side).
- ngram-jaccard: the shingle equi-join explodes quadratically inside a
  shingle bucket; intended for candidate *verification*. At corpus scale,
  generate candidates with MinHash LSH first, then verify pairs.
- minhash_lsh: ONE base md5 per shingle, all ``num_hashes`` permutations
  derived by integer multiply-adds inside the per-doc aggregate (map-side
  partial combine); the only shuffle is the band-bucket self-join, which
  AQE skew-splits on hot buckets.
- simhash: map-side signature; near-dup = hamming distance on the 32-bit
  profile (join on 16-bit halves for candidates, pigeonhole d<=... ).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ontology_mapper_spark.operators.iterate import fixpoint
from ontology_mapper_spark.text.normalize import ws_tokens


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of whitespace-tokenized text.

    Tokenization is the engine-canonical ``text.normalize.ws_tokens``
    (whitespace-run split + empty-edge filter — see its docstring for why
    the filter is an oracle-parity invariant; measured 3.9 s -> 2.9 s on
    the sf0.1 shingle explode vs the old normalize-then-split form)."""
    words = ws_tokens(text)
    n = F.size(words)
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - k + 1),
                lambda i: F.array_join(F.slice(words, i, k), " "),
            ),
        ).otherwise(F.array(F.array_join(words, " ")))
    )


def exact_dedup_groups(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content digest: one row per distinct content with the
    canonical (min) id and duplicate count."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """All (a, b) doc pairs with shingle-set Jaccard >= threshold, a < b.
    Inverted-index join on shingles; |intersection| from the match count,
    |union| = |A| + |B| - |intersection|.

    This operator is quadratic *inside a shingle bucket* — it is the
    verification stage; generate candidates with MinHash LSH at corpus
    scale. ``max_bucket`` makes that contract executable: any shingle
    shared by more than ``max_bucket`` docs raises at action time (native
    ``raise_error`` guard — misuse fails loudly instead of fanning out
    quadratically). Default ON at 10k (a 10k-doc bucket already implies
    ~5x10^7 candidate pairs from one shingle); pass ``max_bucket=None`` as
    the explicit escape hatch for exact unguarded semantics (r2 VERDICT
    #9 flipped this from opt-in to default-on)."""
    # group docs per 64-bit shingle hash, then generate ordered pairs
    # map-side from each bucket array — one shuffle of the shingle relation
    # instead of a two-sided self-join, and df=1 shingles (the bulk of a
    # Zipfian shingle space) die in the size->=2 filter without ever
    # producing join fan-out. Jaccard depends only on key EQUALITY, so
    # hashing the shingle strings changes nothing up to 64-bit collisions
    # (~n_distinct^2 / 2^65 — negligible at any bucket size the guard
    # admits), and the DuckDB oracle, which joins on the strings
    # themselves, stays hash-exact. (Measured at sf0.1: string self-join
    # 13.4 s -> hashed self-join 9.3 s; warm local[16], hashed self-join
    # 11.9 s -> this shape 6.6 s.) Residual skew: one hot bucket's pairs
    # now stream from one task — bounded by the max_bucket contract; at
    # corpus scale candidates come from MinHash LSH anyway.
    sh = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(F.col(text_col), k)).alias("shingle"),
    ).select("doc", F.xxhash64("shingle").alias("shingle"))
    # sizes is joined TWICE below (doc_a and doc_b side); without a
    # materialization each join side re-runs the whole shingle
    # explode+aggregate pipeline (3 full passes total in the physical
    # plan). One row per doc, so pinning it is O(|docs|) storage at any
    # scale — measured at sf0.1: the query drops ~1/3 of its map work.
    sizes = (
        sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz")).localCheckpoint()
    )
    # sort_array pins doc_a < doc_b by construction
    buckets = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_list("doc")).alias("ds")
    )
    if max_bucket is not None:
        # executable contract: misuse fails loudly at action time instead
        # of fanning out quadratically. Free here — the bucket array is
        # already materialized (the old guard paid a full extra aggregate
        # pass + crossJoin over the shingle relation).
        elem_t = docs.schema[id_col].dataType.simpleString()
        buckets = buckets.withColumn(
            "ds",
            F.when(F.size("ds") <= max_bucket, F.col("ds")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("ngram_jaccard_pairs: hottest shingle bucket "),
                        F.size("ds").cast("string"),
                        F.lit(
                            f" exceeds max_bucket={max_bucket} — use "
                            "MinHash LSH for candidate generation"
                        ),
                    )
                ).cast(f"array<{elem_t}>")
            ),
        )
    # two chained Generates stay pipelined in one stage: no C(n,2) array is
    # ever materialized per row, pairs stream out one at a time
    e1 = buckets.filter(F.size("ds") >= 2).select(
        "ds", F.posexplode("ds").alias("_i", "doc_a")
    )
    inter = (
        e1.select(
            "doc_a",
            F.explode(
                F.slice("ds", F.col("_i") + 2, F.size("ds"))
            ).alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("matches"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc", "doc_a")
                   .withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b")
              .withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("matches") / (F.col("sz_a") + F.col("sz_b") - F.col("matches")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# One-digest MinHash family: h_i(s) = (A[i] * x + B[i]) mod P where
# x = int(md5(s)[:8], 16) is a single 32-bit base digest per shingle.
# P is the smallest prime > 2^32; A[i] odd in [1, 2^30) keeps the product
# under 2^30 * (P-1) < 2^62, so the multiply-add never overflows a signed
# 64-bit integer in EITHER engine (Spark wraps silently on overflow,
# DuckDB raises — staying under 2^63 makes the arithmetic identical).
# Constants were drawn once from a fixed PRNG seed and frozen as literals
# so signatures are stable across releases. 64 pairs ship (default
# num_hashes=16 uses the first 16, unchanged since they were frozen;
# 17..63 allow tighter Jaccard estimates / more LSH bands at the same
# arithmetic, e.g. 32 hashes x 8 bands of 4 rows).
MINHASH_P = 4294967311
MINHASH_A = [
    152210629, 918217649, 658508023, 437712405, 210530483, 627555869,
    929479957, 880446443, 450932601, 687911659, 516286697, 333275189,
    660335779, 841748847, 819230763, 867337001, 47889135, 65114457,
    1011686525, 759351239, 974671989, 577896127, 772492241, 833202457,
    111707541, 625836047, 1057572213, 1063964745, 267543841, 267400637,
    348751615, 654793805, 143891287, 195259243, 431904685, 919078929,
    686338909, 172297135, 887214699, 264574111, 314282507, 878194981,
    948925683, 116727529, 735930537, 826784755, 51985271, 841673441,
    171433399, 901478357, 631671461, 67833137, 313500707, 220263069,
    889086231, 714830137, 284961447, 133584903, 471598509, 1022950197,
    912397263, 57176303, 1064997403, 807027353,
]
MINHASH_B = [
    1481503688, 1706964142, 1430083405, 3503532737, 3214762415, 3239228431,
    1040608570, 1603612122, 2855768614, 835852107, 1666463566, 2912677003,
    1690421402, 3317940406, 1869843828, 955008304, 1794848526, 1116645096,
    1348070719, 212354230, 2487781151, 2279043270, 3689394951, 719448776,
    1239662262, 3160473944, 251675599, 2472157090, 1467378666, 1806884884,
    1511885691, 1229397931, 1534864425, 2711117983, 2650846572, 982877753,
    1930790749, 987342118, 38005099, 1837608243, 3771663755, 3145375323,
    2965587002, 3403183516, 791040197, 1148003899, 1615218847, 629441141,
    1979106287, 1040790984, 3397837516, 3152981759, 2391059664, 119484177,
    982177880, 314238108, 1092925116, 1804667808, 1504216172, 3361036285,
    670569790, 1574692872, 1024518582, 2136367277,
]


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 16,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signature: h_i(doc) = min over shingles of
    ``(A[i] * x + B[i]) mod P`` with ONE md5 base digest x per shingle
    (see MINHASH_A above). This is the same universal-hash construction
    Spark MLlib's MinHashLSH uses (one hash of the element, k derived
    permutations) and is engine-portable bit-for-bit: the DuckDB oracle
    replays the identical arithmetic.

    Physical shape: explode shingles -> one projection computes the single
    base digest x -> one hash aggregate takes the ``num_hashes`` mins of
    the derived multiply-adds per doc. History of this shape, each step
    measured: r2 exploded shingles x seeds (num_hashes x more aggregate
    rows, 9.7 s at sf0.1); r3 computed 16 KEYED md5s in one projection
    (aggregate sees |shingles| rows, 6.5 s — the md5s themselves were
    ~all the remaining cost); r4 derives all 16 from ONE md5, replacing
    15 digests per shingle with 16 integer multiply-adds (~ns each).
    Rejected: nested ``transform`` lambdas over an un-exploded shingle
    array inline the shingle construction once per seed via
    CollapseProject (16x codegen blowup, ~2 orders of magnitude slower).
    The derived-permutation min is computed INSIDE the aggregate
    expressions over the (doc, x) rows, so the md5 stays evaluated exactly
    once per shingle and the map-side partial combine still shuffles ONE
    row per doc. The 32-bit base-digest space is the standard tradeoff:
    distinct-shingle collisions perturb Jaccard estimates by ~n^2/2^33,
    negligible against the 1/sqrt(num_hashes) estimator noise."""
    if num_hashes > len(MINHASH_A):
        raise ValueError(
            f"num_hashes={num_hashes} exceeds the frozen constant family "
            f"({len(MINHASH_A)}); extend MINHASH_A/MINHASH_B to widen"
        )
    sh = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(F.col(text_col), k)).alias("s"),
    ).select(
        "doc",
        F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long").alias("x"),
    )
    mins = [
        F.min(
            (F.lit(MINHASH_A[i]) * F.col("x") + F.lit(MINHASH_B[i]))
            % F.lit(MINHASH_P)
        ).alias(f"_h{i}")
        for i in range(num_hashes)
    ]
    return (
        sh.groupBy("doc")
        .agg(*mins)
        .select(
            "doc",
            F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("sig"),
        )
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` rows-per-band groups,
    hash each band, self-join on (band_idx, band_hash) -> candidate pairs."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(docs, num_hashes, k, text_col, id_col)
    banded = sigs.select(
        "doc",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.md5(
                    F.array_join(
                        F.transform(
                            F.slice(
                                F.col("sig"), b * rows_per_band + 1, rows_per_band
                            ),
                            lambda h: h.cast("string"),
                        ),
                        "|",
                    )
                ),
            )
        ).alias("band", "band_hash"),
    # both self-join sides read ``banded``; without a materialization
    # the whole shingle->md5->signature-aggregate pipeline runs TWICE in
    # the join plan (no exchange reuse across the rename). One row per
    # (doc, band) — O(|docs| * bands) storage, the standard shape of a
    # persisted LSH signature table — halves the map work (measured at
    # sf0.1: 4.1 s -> ~1.9 s together with the scan spread).
    ).localCheckpoint()
    a = banded.select(F.col("doc").alias("doc_a"), "band", "band_hash")
    b = banded.select(F.col("doc").alias("doc_b"), "band", "band_hash")
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    max_dist: int = 1,
    bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All (a, b) doc pairs whose SimHash profiles differ in at most
    ``max_dist`` bits, with the exact hamming distance.

    Pigeonhole candidate generation: split the ``bits``-bit profile into
    ``max_dist + 1`` blocks — two profiles within hamming distance d MUST
    agree exactly on at least one block — self-join on (block_idx,
    block_value), then verify candidates with the exact bitwise distance.
    All native expressions (the oracle replays it in SQL).

    Scale note: candidate selectivity is the per-block key space,
    2^(bits/(max_dist+1)). With bits=32, max_dist=1 gives 16-bit blocks
    (65k buckets — fine); max_dist=3 gives 8-bit blocks (256 buckets —
    every bucket is hot at corpus scale). Use 64-bit profiles before
    raising max_dist past 1, or feed candidates from MinHash LSH."""
    n_blocks = max_dist + 1
    assert bits % n_blocks == 0, "bits must divide into max_dist+1 blocks"
    width = bits // n_blocks
    prof = simhash_profile(docs, bits, text_col, id_col)
    blocks = prof.select(
        "doc",
        F.col("simhash").alias("sim"),
        F.posexplode(
            F.array(
                *[
                    F.substring("simhash", 1 + i * width, width)
                    for i in range(n_blocks)
                ]
            )
        ).alias("blk", "blk_val"),
    # both self-join sides read ``blocks``; materializing it computes the
    # SimHash profile aggregate once instead of once per side. One row
    # per (doc, block) — O(|docs| * (max_dist+1)) storage at any scale.
    ).localCheckpoint()
    a = blocks.select(
        F.col("doc").alias("doc_a"), F.col("sim").alias("sim_a"), "blk", "blk_val"
    )
    b = blocks.select(
        F.col("doc").alias("doc_b"), F.col("sim").alias("sim_b"), "blk", "blk_val"
    )
    cand = (
        a.join(b, ["blk", "blk_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sim_a", "sim_b")
        .distinct()
    )
    ham = F.aggregate(
        F.zip_with(
            F.slice(F.split("sim_a", ""), 1, bits),
            F.slice(F.split("sim_b", ""), 1, bits),
            lambda x, y: (x != y).cast("int"),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_dist)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_profile(
    docs: DataFrame, bits: int = 32, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash over whitespace tokens: bit i of a token = high bit of the
    i-th hex digit of md5(token); document bit i = majority vote. Portable
    (hex-digit semantics identical everywhere); computed map-side with
    aggregate/zip_with — zero shuffle.

    Physical shape: each token is hashed ONCE (``transform`` binds the md5
    to a lambda variable, then ``translate`` maps the 32 hex digits to a
    '0'/'1' bit string in a single pass). The previous formulation inlined
    ``md5(t)`` inside the per-bit lambda, so codegen recomputed the digest
    ``bits`` times per token — measured ~3x slower at sf0.1."""
    assert bits <= 32
    words = ws_tokens(F.col(text_col))
    # per token: md5 -> hex -> '0'/'1' string (high bit of each hex digit)
    bitstrs = F.transform(
        words,
        lambda t: F.translate(
            F.md5(t), "0123456789abcdef", "0000000011111111"
        ),
    )
    acc = F.aggregate(
        bitstrs,
        F.array_repeat(F.lit(0), bits),
        lambda a, bs: F.zip_with(
            a,
            F.slice(F.split(bs, ""), 1, bits),
            lambda x, c: x + F.when(c == "1", F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    sim = F.array_join(
        F.transform(acc, lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0"))),
        "",
    )
    return docs.select(F.col(id_col).alias("doc"), sim.alias("simhash"))


def deterministic_sample(
    docs: DataFrame, fraction: float, id_col: str = "doc_id"
) -> DataFrame:
    """Reproducible corpus sample: keep rows whose md5(id) 8-hex-digit
    prefix falls below ``fraction`` of the hex space. Unlike
    ``DataFrame.sample`` (seeded per-partition RNG — resplitting the input
    changes the sample), membership is a pure function of the id, so the
    same ids are selected on any engine, partitioning, or day — the
    training-pipeline contract for held-out splits. The filter is a
    map-side string compare (md5 hex is fixed-width lowercase, so
    lexicographic == numeric); no shuffle."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    if fraction >= 1.0:
        # 16**8 formats to 9 hex chars, which string-compares BELOW any
        # 8-char prefix starting past '1' — keep-everything must bypass
        return docs
    threshold = format(int(fraction * 16**8), "08x")
    return docs.filter(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8) < threshold
    )


def neardup_clusters(pairs: DataFrame, max_iterations: int = 50) -> DataFrame:
    """Connected components over near-dup pairs -> (doc, cluster_id) with
    cluster_id = min doc id in the component. This is the step that turns
    any pair generator (MinHash LSH, SimHash, embedding near-dup) into an
    executable dedup policy: keep each cluster's canonical (min-id) doc,
    drop the rest.

    Physical shape: iterative min-label propagation with POINTER DOUBLING,
    run by ``iterate.fixpoint`` — each round (a) joins the current labels
    across the symmetrized edge set and takes the map-side-combined min
    per doc, then (b) shortcuts every label through its own label
    (cluster_id is always some doc's id, so label(label(doc)) is defined):
    distance-to-root halves per round, so convergence is O(log diameter)
    instead of O(diameter); a 200-doc chain converges in <= ~9 rounds.
    The extra label-sized self-join per round is keyed and
    map-side-combinable — cheap next to the edge join. Labels only ever
    decrease, so a doc changed this round iff its new label is below its
    old one: the round flags that in ``_new`` and needs no anti-join to
    detect convergence. Cycle-safe by construction (min-propagation is
    monotone). Block storage stays bounded at the edge set plus two
    doc-sized label snapshots: each round's label checkpoint is released
    once the next one is materialized."""
    sym = (
        pairs.select(F.col("doc_a").alias("doc"), F.col("doc_b").alias("nbr"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("doc"), F.col("doc_a").alias("nbr")
            )
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = sym.select("doc", F.col("doc").alias("cluster_id")).distinct()

    def step(labels: DataFrame) -> DataFrame:
        nbr_min = (
            sym.join(
                labels.select(
                    F.col("doc").alias("nbr"), F.col("cluster_id").alias("nl")
                ),
                "nbr",
            )
            .groupBy("doc")
            .agg(F.min("nl").alias("nbr_label"))
        )
        merged = labels.join(nbr_min, "doc", "left").select(
            "doc",
            F.col("cluster_id").alias("_old"),
            F.least(
                "cluster_id", F.coalesce("nbr_label", "cluster_id")
            ).alias("cluster_id"),
        )
        # pointer doubling: follow each label one hop through the label
        # relation itself (left join: labels are doc ids by invariant, but
        # degrade to no-op rather than dropping rows if that ever broke)
        doubled = F.least("cluster_id", F.coalesce("_ll", "cluster_id"))
        return merged.join(
            merged.select(
                F.col("doc").alias("cluster_id"),
                F.col("cluster_id").alias("_ll"),
            ),
            "cluster_id",
            "left",
        ).select(
            "doc",
            doubled.alias("cluster_id"),
            (doubled < F.col("_old")).alias("_new"),
        )

    return fixpoint(step, labels, max_iterations, "neardup_clusters", (sym,))
