"""Output checks. Each returns ``(ok, detail)`` and never raises on a wrong
answer, so a failed check is counted, not fatal. The checks take plain
Python values (collected outside the timed region), which also lets the
tests feed them corrupted outputs directly."""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def checksum(df: DataFrame) -> tuple[int, int]:
    """Order-independent fingerprint of a triple relation: the sum of a
    per-row crc32 over (subj, pred, obj, score in millis), and the row
    count."""
    row = df.agg(
        F.sum(F.crc32(F.concat_ws(
            "|", "subj", "pred", "obj",
            F.round(F.col("score") * 1000).cast("long").cast("string"),
        ))).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return int(row["h"] or 0), int(row["n"])


def same_checksums(sums: list) -> tuple[bool, str]:
    """Every iteration wrote the same relation."""
    ok = len(sums) > 0 and all(s == sums[0] for s in sums)
    return ok, f"{len(set(map(tuple, sums)))} distinct checksums over {len(sums)} iterations"


def equal(got, expected, what: str) -> tuple[bool, str]:
    return got == expected, f"{what}: got {got}, expected {expected}"


def precision_recall(got: set, expected: set, floor: float = 0.95) -> tuple[bool, str]:
    if not got or not expected:
        return False, f"empty triple set (got {len(got)}, expected {len(expected)})"
    tp = len(got & expected)
    p, r = tp / len(got), tp / len(expected)
    return p >= floor and r >= floor, f"precision {p:.4f} recall {r:.4f}"


def pagerank_replay(edges: list[tuple[str, str]], iterations: int) -> dict[str, int]:
    """Pure-Python replay of ``pagerank_int``'s integer recurrence:
    ``r_0 = 1_000_000``; ``r_{t+1}(v) = 150_000 + sum over u->v of
    (r_t(u) * 85) // (100 * outdeg(u))``."""
    nodes = {n for e in edges for n in e}
    outdeg: dict[str, int] = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = dict.fromkeys(nodes, 1_000_000)
    for _ in range(iterations):
        nxt = dict.fromkeys(nodes, 150_000)
        for s, d in edges:
            nxt[d] += (rank[s] * 85) // (100 * outdeg[s])
        rank = nxt
    return rank


def rank_fingerprint(ranks: dict[str, int]) -> tuple[int, int]:
    """``(node count, sum of crc32("node|rank"))``, the same fingerprint the
    workload computes in Spark over ``pagerank_int``'s output."""
    return len(ranks), sum(zlib.crc32(f"{n}|{r}".encode()) for n, r in ranks.items())


def cooccurrence_replay(pairs: list[tuple[str, str]], cap: int) -> tuple[int, int, int]:
    """Pure-Python replay of ``entity_cooccurrence`` over ``(url, entity)``
    pairs, reduced to ``(pair count, sum of co_count, sum of lift_milli)``:
    each page keeps its ``cap`` smallest distinct entities; ``lift_milli =
    1000 * co * n_pages // (n_a * n_b)``."""
    pages: dict[str, set] = {}
    for url, ent in pairs:
        pages.setdefault(url, set()).add(ent)
    co: dict[tuple, int] = {}
    n_ent: dict[str, int] = {}
    for ents in pages.values():
        es = sorted(ents)[:cap]
        for e in es:
            n_ent[e] = n_ent.get(e, 0) + 1
        for i, a in enumerate(es):
            for b in es[i + 1:]:
                co[(a, b)] = co.get((a, b), 0) + 1
    n_pages = len(pages)
    lift = sum(1000 * c * n_pages // (n_ent[a] * n_ent[b]) for (a, b), c in co.items())
    return len(co), sum(co.values()), lift
