"""Seeded input generators for the KG benchmark, and their parquet staging.

Every generator is a pure function of its seed and size arguments, so the
same ``--seed`` gives the same inputs. Sizes are fixed per workload; only the
content varies with the seed, which keeps the work of one run comparable to
the next. Inputs are written as parquet with pyarrow during set-up, so no
timed call pays for generating them and the program only ever reads files.
"""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ontology_mapper_spark.sources.pages import extract_text_py, render_html

VOCAB = [
    "asthma", "bronchitis", "allergy", "disease", "syndrome", "disorder",
    "measurement", "protein", "level", "acute", "chronic", "respiratory",
    "digestive", "immune", "colon", "lung", "food", "attack", "location",
    "phenotype", "carcinoma", "infection", "inflammation", "deficiency",
    "cardiac", "renal", "hepatic", "neural", "vascular", "metabolic",
    "skeletal", "muscular", "dermal", "ocular", "thyroid", "pancreatic",
    "gastric", "spinal", "arterial", "venous", "lymphatic", "epithelial",
]
QUALIFIERS = [
    "type", "variant", "form", "stage", "grade", "class", "subtype",
    "pattern", "onset", "episode",
]
ONTO_PREFIX = "http://kgbench.example.org/onto/T"
_EPOCH = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)


# --------------------------------------------------------------------------
# Ontology


def _term(iri, label, synonyms=(), parent=None, deprecated=False):
    return {
        "iri": iri,
        "labels": [label],
        "synonyms": list(synonyms),
        "parents": {parent: f"parent of {iri}"} if parent else {},
        "deprecated": bool(deprecated),
    }


def ontology_pool(seed: int, n_terms: int) -> list[dict]:
    """EFO-shaped synthetic ontology: one label per term (two vocabulary
    words, a qualifier and a number), a synonym on every even term, so
    ``labels = n_terms + ceil(n_terms / 2)``, and a seeded IS_A forest."""
    rng = np.random.default_rng([seed, 11])
    w = rng.integers(0, len(VOCAB), size=(n_terms, 2))
    w[:, 1] = np.where(w[:, 0] == w[:, 1], (w[:, 1] + 1) % len(VOCAB), w[:, 1])
    q = rng.integers(0, len(QUALIFIERS), n_terms)
    k = np.arange(n_terms)
    parent = k // 2 + (rng.random(n_terms) * (k - k // 2)).astype(np.int64)
    deprecated = rng.random(n_terms) < 0.02
    rows = []
    for i in range(n_terms):
        w1, w2, qual = VOCAB[w[i, 0]], VOCAB[w[i, 1]], QUALIFIERS[q[i]]
        rows.append(_term(
            f"{ONTO_PREFIX}{i:07d}",
            f"{w1} {w2} {qual} {i % 997}",
            [f"{w2} {w1} {qual} {i % 997}"] if i % 2 == 0 else [],
            f"{ONTO_PREFIX}{parent[i]:07d}" if i >= 64 else None,
            deprecated[i],
        ))
    return rows


def n_labels(rows: list[dict]) -> int:
    return sum(len(r["labels"]) + len(r["synonyms"]) for r in rows)


def release(seed: int, pool: list[dict], n_terms: int, touched: int) -> list[dict]:
    """The next release of ``pool[:n_terms]``: ``touched`` terms removed,
    ``touched`` relabelled, ``touched`` given an extra synonym (a seeded
    choice), and ``pool[n_terms:]`` added as brand-new terms."""
    rng = np.random.default_rng([seed, 12])
    picked = rng.choice(n_terms, 3 * touched, replace=False).tolist()
    removed = set(picked[:touched])
    relabel = set(picked[touched:2 * touched])
    add_syn = set(picked[2 * touched:])
    out = []
    for i, r in enumerate(pool[:n_terms]):
        if i in removed:
            continue
        if i in relabel:
            r = dict(r, labels=[r["labels"][0] + " nos"])
        if i in add_syn:
            r = dict(r, synonyms=r["synonyms"] + [r["labels"][0] + " disorder"])
        out.append(r)
    return out + pool[n_terms:]


def layered_hierarchy(seed: int, depth: int, width: int) -> tuple[list[dict], int]:
    """A ``depth``-level IS_A forest with ``width`` terms per level, each
    term below the roots under a seeded parent one level up. A term at level
    ``l`` has exactly ``l`` ancestors, so the closure holds
    ``width * depth * (depth + 1) / 2`` pairs whatever the seed."""
    rng = np.random.default_rng([seed, 61])
    rows = []
    for lvl in range(depth + 1):
        parents = rng.integers(0, width, width)
        for w in range(width):
            parent = f"{ONTO_PREFIX}H{lvl - 1}_{parents[w]}" if lvl else None
            rows.append(_term(f"{ONTO_PREFIX}H{lvl}_{w}", f"h{lvl} {w}", (), parent))
    return rows, width * depth * (depth + 1) // 2


_MAP = pa.map_(pa.string(), pa.string())
_LIST = pa.list_(pa.string())


def write_ontology(rows: list[dict], path: str) -> None:
    """Stage ``rows`` in the library's ``onto_terms`` layout; ``children`` is
    the inverse of ``parents``."""
    children: dict[str, list] = {}
    for r in rows:
        for p in r["parents"]:
            children.setdefault(p, []).append((r["iri"], r["labels"][0]))
    pq.write_table(pa.table({
        "iri": pa.array([r["iri"] for r in rows], pa.string()),
        "labels": pa.array([r["labels"] for r in rows], _LIST),
        "synonyms": pa.array([r["synonyms"] for r in rows], _LIST),
        "definitions": pa.array([[] for _ in rows], _LIST),
        "parents": pa.array([list(r["parents"].items()) for r in rows], _MAP),
        "children": pa.array([children.get(r["iri"], []) for r in rows], _MAP),
        "instances": pa.array([[] for _ in rows], _MAP),
        "restrictions": pa.array([[] for _ in rows], _MAP),
        "deprecated": pa.array([r["deprecated"] for r in rows], pa.bool_()),
        "term_type": pa.array(["class"] * len(rows), pa.string()),
    }), path)


# --------------------------------------------------------------------------
# Pages


def mention_universe(seed: int, onto: list[dict], n_strings: int) -> list[str]:
    """Mention strings drawn from the ontology's names: exact labels and
    synonyms, labels with an extra leading word, labels without their
    number, swapped words, and a share of random strings no label matches."""
    rng = np.random.default_rng([seed, 21])
    term = rng.integers(0, len(onto), n_strings)
    kind = rng.random(n_strings)
    extra = rng.integers(0, len(VOCAB), n_strings)
    letters = rng.integers(0, 26, (n_strings, 14))
    length = rng.integers(8, 15, n_strings)
    out = []
    for i in range(n_strings):
        t = onto[term[i]]
        lbl, k = t["labels"][0], kind[i]
        w = lbl.split()
        if k < 0.30:
            s = lbl
        elif k < 0.45 and t["synonyms"]:
            s = t["synonyms"][0]
        elif k < 0.65:
            s = f"{VOCAB[extra[i]]} {lbl}"
        elif k < 0.80:
            s = " ".join(w[:3])
        elif k < 0.92:
            s = " ".join([w[1], w[0]] + w[2:])
        else:
            s = "".join(chr(97 + c) for c in letters[i, :length[i]])
        out.append(s)
    return out


def zipf_draw(rng, n_items: int, size: int, exponent: float) -> np.ndarray:
    """``size`` draws over ``n_items`` with P(rank r) ~ 1/r^exponent; ranks
    are assigned to items by a seeded permutation."""
    p = 1.0 / np.arange(1, n_items + 1) ** exponent
    p /= p.sum()
    perm = rng.permutation(n_items)
    return perm[rng.choice(n_items, size=size, p=p)]


def page_url(seed: int, i: int) -> str:
    return f"https://kgbench.example.org/s{seed}/site{i % 97}/page{i}"


def _page(seed, i, paragraphs, lang, ts):
    html = render_html(f"Page {i}", paragraphs)
    return (page_url(seed, i), ts, html, extract_text_py(html), lang)


def page_mentions(seed, n_pages, universe, per_page, exponent) -> list[list[str]]:
    """Per-page mention lists with Zipf-distributed string popularity."""
    rng = np.random.default_rng([seed, 31])
    draws = zipf_draw(rng, len(universe), n_pages * per_page, exponent)
    return [
        [universe[j] for j in draws[i * per_page:(i + 1) * per_page]]
        for i in range(n_pages)
    ]


def page_langs(seed: int, n_pages: int) -> list[str]:
    """About 5% of pages are not English, so the language filter has work."""
    rng = np.random.default_rng([seed, 32])
    return ["de" if x < 0.05 else "en" for x in rng.random(n_pages)]


def _ts(i: int, days: int = 0) -> datetime.datetime:
    return _EPOCH + datetime.timedelta(days=days, seconds=37 * i)


def corpus(seed, n_pages, universe, per_page, exponent) -> list[tuple]:
    mentions = page_mentions(seed, n_pages, universe, per_page, exponent)
    langs = page_langs(seed, n_pages)
    return [_page(seed, i, mentions[i], langs[i], _ts(i)) for i in range(n_pages)]


def recrawl(
    seed, n_pages, universe, per_page, exponent,
    recrawled: float, changed: float, new: float,
) -> tuple[list[tuple], dict]:
    """A later crawl segment over ``corpus(seed, n_pages, ...)``: the last
    ``recrawled`` share of urls is captured again, an exact seeded
    ``changed`` share of those with one paragraph replaced, and
    ``new * n_pages`` brand-new urls follow. Returns the rows and the
    planted counts."""
    mentions = page_mentions(seed, n_pages, universe, per_page, exponent)
    langs = page_langs(seed, n_pages)
    rng = np.random.default_rng([seed, 41])
    lo = n_pages - int(n_pages * recrawled)
    n_changed = int((n_pages - lo) * changed)
    changed_idx = set((lo + rng.choice(n_pages - lo, n_changed, replace=False)).tolist())
    rows = []
    for i in range(lo, n_pages):
        paras = list(mentions[i])
        if i in changed_idx:
            j = int(rng.integers(per_page))
            paras[j] = paras[j] + " recurrent"
        rows.append(_page(seed, i, paras, langs[i], _ts(i, days=30)))
    n_new = int(n_pages * new)
    fresh = page_mentions(seed + 7919, n_new, universe, per_page, exponent)
    for j in range(n_new):
        rows.append(_page(seed, n_pages + j, fresh[j], "en", _ts(n_pages + j, 30)))
    return rows, {"recrawled": n_pages - lo, "changed": n_changed, "new_urls": n_new}


def write_pages(rows: list[tuple], path: str, n_files: int = 4) -> None:
    """Stage pages in the library's ``PAGES_SCHEMA`` layout, split into
    ``n_files`` files so the scan has one task per core."""
    url, ts, html, text, lang = (list(c) for c in zip(*rows))
    table = pa.table({
        "url": pa.array(url, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
    })
    _write_split(table, path, n_files)


def _write_split(table: pa.Table, path: str, n_files: int) -> None:
    import os

    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for f in range(n_files):
        pq.write_table(
            table.slice(f * step, step), os.path.join(path, f"part-{f:03d}.parquet")
        )


def write_frame(df: pd.DataFrame, path: str, n_files: int = 4) -> None:
    _write_split(pa.Table.from_pandas(df, preserve_index=False), path, n_files)


# --------------------------------------------------------------------------
# Graph inputs


def triples_release(
    seed: int, n_subjects: int, n_entities: int, exponent: float,
    rescored: float, removed: float, relinked: float,
) -> tuple[pd.DataFrame, pd.DataFrame, dict]:
    """Two KG releases over ``n_subjects`` mention subjects (``url#k``, four
    per page) whose objects are Zipf-popular entities. The second release
    plants exact shares of rescored, removed and relinked triples. Returns
    ``(prev, new, expected kg_diff status counts)``."""
    rng = np.random.default_rng([seed, 51])
    obj = zipf_draw(rng, n_entities, n_subjects, exponent)
    milli = rng.integers(300, 1000, n_subjects)
    subj = [f"https://kgbench.example.org/s{seed}/p{i // 4}#{i % 4}"
            for i in range(n_subjects)]
    ent = np.array([f"{ONTO_PREFIX}{e:07d}" for e in range(n_entities)], dtype=object)
    prev = pd.DataFrame({
        "subj": subj, "pred": "mappedTo", "obj": ent[obj], "score": milli / 1000.0,
    })
    k_res, k_rem, k_rel = (int(n_subjects * f) for f in (rescored, removed, relinked))
    pick = rng.choice(n_subjects, k_res + k_rem + k_rel, replace=False)
    res, rem, rel = pick[:k_res], pick[k_res:k_res + k_rem], pick[k_res + k_rem:]
    new = prev.copy()
    new.loc[res, "score"] = np.where(milli[res] < 999, milli[res] + 1, milli[res] - 1) / 1000.0
    shift = 1 + rng.integers(0, n_entities - 1, len(rel))
    new.loc[rel, "obj"] = ent[(obj[rel] + shift) % n_entities]
    new = new.drop(index=rem).reset_index(drop=True)
    expected = {
        "stable": n_subjects - k_res - k_rem - k_rel,
        "rescored": k_res,
        "removed": k_rem + k_rel,
        "added": k_rel,
    }
    return prev, new, expected


def chain_pairs(seed: int, n_chains: int, length: int) -> pd.DataFrame:
    """``n_chains`` path-shaped components of ``length`` docs each; doc ids
    are a seeded permutation, so each chain's minimum sits anywhere on it."""
    rng = np.random.default_rng([seed, 71])
    ids = rng.permutation(n_chains * length).astype(np.int64).reshape(n_chains, length)
    return pd.DataFrame({
        "doc_a": ids[:, :-1].ravel(), "doc_b": ids[:, 1:].ravel(),
    })
