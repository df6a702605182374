"""The benchmark workloads.

Each workload has the same four parts, driven by ``run.py``:

- ``setup()``: stage the seeded inputs as parquet and build the prior
  state (reported as ``setup_s``).
- ``iteration(traced)``: one timed iteration. Untraced, it makes the same
  calls a user of the library makes. Traced, it makes the calls of each
  layer separately, each in its own span, materializing the output of one
  layer before the next starts, so the event log can give each layer its
  own jobs.
- ``after()``: untimed, right after each iteration: reads back what the
  iteration wrote, for the checks.
- ``checks()``: untimed output checks, run once after the timed loop.
"""

from __future__ import annotations

import dataclasses
import os
import time

from pyspark import StorageLevel
from pyspark.sql import functions as F

from kgbench import checks, inputs
from ontology_mapper_spark.config import MappingConfig
from ontology_mapper_spark.operators.dedup import neardup_clusters
from ontology_mapper_spark.operators.graph import (
    ancestor_closure,
    entity_cooccurrence,
    kg_diff,
    pagerank_int,
)
from ontology_mapper_spark.operators.tfidf import source_idf_map, target_idf_map
from ontology_mapper_spark.oracle.tfidf_oracle import tfidf_mappings
from ontology_mapper_spark.pipeline import (
    build_pipeline_index,
    construct_full_kg,
    construct_kg,
    construct_kg_from_mentions,
    incremental_kg_delta,
    incremental_kg_ontology,
    incremental_kg_ontology_delta,
    map_terms_df,
    mappings_to_triples,
    merge_digests,
    page_digests,
    triple_url,
)
from ontology_mapper_spark.sources.ontology import filter_terms_df, onto_labels_df
from ontology_mapper_spark.sources.pages import detect_mentions, extract_text

CFG = MappingConfig(min_score=0.3, max_mappings=3)


def _materialize(df, pinned: list):
    """Persist ``df`` and compute it now; returns the row count."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    pinned.append(df)
    return df, df.count()


def _write(df, path):
    df.write.mode("overwrite").parquet(path)


def _labels(onto, cfg=CFG):
    return onto_labels_df(
        filter_terms_df(onto, cfg.base_iris, cfg.excl_deprecated, cfg.term_type)
    )


def _index_bytes(idx) -> int:
    import pickle

    return len(pickle.dumps(
        (idx.iris, idx.displays, idx.postings), protocol=pickle.HIGHEST_PROTOCOL
    ))


class Workload:
    name = ""
    ops_per_iteration = 1
    prestart = True  # whether the session warms Python workers

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.path = lambda *p: os.path.join(ctx.run_dir, *p)
        self.pinned: list = []

    def read(self, name):
        return self.spark.read.parquet(self.path(name))

    def release_pinned(self):
        for df in self.pinned:
            df.unpersist()
        self.pinned.clear()

    def after(self):
        pass

    def plan_incremental(self, affected_frac) -> int:
        return 0


# --------------------------------------------------------------------------


class KgMaintain(Workload):
    """One maintenance cycle over prior-cycle state: a re-crawl segment
    (corpus axis) and an ontology release (ontology axis). Every iteration
    applies the same delta to the same snapshot."""

    name = "kg_maintain"
    ops_per_iteration = 2
    N_TERMS, TOUCHED, N_STRINGS, N_PAGES, PER_PAGE, ZIPF = 2000, 10, 3000, 3000, 4, 1.05
    RECRAWLED, CHANGED, NEW = 0.10, 0.30, 0.02
    # The valve's dimension term sends releases below this many labels to a
    # full rebuild; the benchmark's dimension sits above it so the
    # incremental plan runs (the library default of 40k labels would put
    # the index build alone past the run's time budget on a 4-core host).
    REBUILD_BELOW_LABELS = 1000

    def setup(self):
        ctx, seed = self.ctx, self.ctx.seed
        pool = inputs.ontology_pool(seed, self.N_TERMS + self.TOUCHED)
        v1 = pool[:self.N_TERMS]
        v2 = inputs.release(seed, pool, self.N_TERMS, self.TOUCHED)
        universe = inputs.mention_universe(seed, v1, self.N_STRINGS)
        pages = inputs.corpus(seed, self.N_PAGES, universe, self.PER_PAGE, self.ZIPF)
        seg, self.planted = inputs.recrawl(
            seed, self.N_PAGES, universe, self.PER_PAGE, self.ZIPF,
            self.RECRAWLED, self.CHANGED, self.NEW,
        )
        inputs.write_ontology(v1, self.path("onto_v1"))
        inputs.write_ontology(v2, self.path("onto_v2"))
        inputs.write_pages(pages, self.path("pages"))
        inputs.write_pages(seg, self.path("recrawl"), n_files=1)
        en = [t for _, _, _, text, lang in pages if lang == "en"
              for t in text.split("\n")[1:]]
        self.input_shape = {
            "pages": self.N_PAGES, "mentions": len(en),
            "distinct_ratio": round(len(set(en)) / len(en), 4),
            "labels_v1": inputs.n_labels(v1), "labels_v2": inputs.n_labels(v2),
            "zipf_exponent": self.ZIPF, **self.planted,
            "rebuild_below_labels": self.REBUILD_BELOW_LABELS,
        }
        self.v1, self.v2 = self.read("onto_v1"), self.read("onto_v2")
        self.pages, self.recrawl = self.read("pages"), self.read("recrawl")
        # prior-cycle state: mention table, frozen models, index, triples,
        # digest snapshot
        _write(detect_mentions(self.pages), self.path("mentions"))
        self.mentions = self.read("mentions")
        self.src_idf = source_idf_map(self.mentions, CFG.ngram_length)
        self.tgt_idf = target_idf_map(_labels(self.v1), CFG.ngram_length)
        with ctx.tracer.span("tfidf.index_build"):
            self.index_v1 = build_pipeline_index(self.v1, CFG, target_idf=self.tgt_idf)
        _write(construct_kg(self.pages, self.v1, CFG, tfidf_source_idf=self.src_idf,
                            tfidf_index=self.index_v1), self.path("triples"))
        _write(page_digests(self.pages), self.path("digests"))
        self.triples, self.digests = self.read("triples"), self.read("digests")
        self.sums: list[tuple] = []

    def iteration(self, traced):
        t0 = time.perf_counter()
        self._recrawl(traced)
        t1 = time.perf_counter()
        self._release(traced)
        return {"recrawl_s": t1 - t0, "release_s": time.perf_counter() - t1}

    def _delta(self):
        return incremental_kg_delta(
            self.recrawl, self.digests, self.v1, CFG, reextract=True,
            tfidf_source_idf=self.src_idf, tfidf_index=self.index_v1,
        )

    def _recrawl(self, traced):
        if not traced:
            fresh, drop = self._delta()
            _write(fresh, self.path("fresh"))
            _write(drop, self.path("dropped"))
            _write(merge_digests(self.digests, self.recrawl), self.path("digests_next"))
            return
        span = self.ctx.tracer.span
        with span("recrawl.detect") as s:
            _, drop = self._delta()
            s["counts"]["changed_frac"] = drop.count() / self.recrawl_rows()
        with span("recrawl.map"):
            # incremental_kg_delta's own mapping step, construct_kg one
            # layer per span
            fresh = self._triples(self.recrawl.join(drop, "url", "left_semi"))
        with span("sink.write"):
            _write(fresh, self.path("fresh"))
        with span("recrawl.merge"):
            _write(drop, self.path("dropped"))
            _write(merge_digests(self.digests, self.recrawl), self.path("digests_next"))

    def _triples(self, pages):
        span = self.ctx.tracer.span
        with span("pages.extract") as s:
            text, s["counts"]["rows"] = _materialize(extract_text(pages), self.pinned)
        with span("pages.detect") as s:
            mentions, s["counts"]["mentions"] = _materialize(
                detect_mentions(text), self.pinned
            )
        with span("link") as s:
            mapped = map_terms_df(
                mentions.select("source_term_id", "source_term", "tags"), self.v1,
                dataclasses.replace(CFG, dedup_scoring=True), tags_absent=True,
                tfidf_source_idf=self.src_idf, tfidf_index=self.index_v1,
            )
            triples, s["counts"]["triples"] = _materialize(
                mappings_to_triples(mapped), self.pinned
            )
        return triples

    def _release(self, traced):
        span = self.ctx.tracer.span
        with span("tfidf.index_build"):
            self.index_v2 = build_pipeline_index(self.v2, CFG, target_idf=self.tgt_idf)
        kw = dict(
            tfidf_source_idf=self.src_idf, tfidf_target_idf=self.tgt_idf,
            tfidf_new_index=self.index_v2, mentions_table=self.mentions,
        )
        if not traced:
            out = incremental_kg_ontology(
                self.pages, self.triples, self.v1, self.v2, CFG,
                rebuild_below_labels=self.REBUILD_BELOW_LABELS, **kw,
            )
            _write(out, self.path("released"))
            return
        # the CDC form, then the merge incremental_kg_ontology makes when
        # its valve keeps the incremental plan
        with span("release.label_delta"):
            fresh, affected = incremental_kg_ontology_delta(
                self.pages, self.triples, self.v1, self.v2, CFG, **kw
            )
        with span("release.remap") as s:
            s["counts"]["affected_frac"] = affected.count() / self.mention_rows()
            fresh, _ = _materialize(fresh, self.pinned)
        with span("sink.write"):
            kept = self.triples.join(
                affected.withColumnRenamed("source_term_id", "subj"), "subj", "left_anti"
            )
            _write(kept.unionByName(fresh), self.path("released"))

    def recrawl_rows(self):
        return self.planted["recrawled"] + self.planted["new_urls"]

    def mention_rows(self):
        return self.input_shape["mentions"]

    def after(self):
        self.sums.append((checks.checksum(self.read("fresh")),
                          checks.checksum(self.read("released"))))

    def written_triples(self):
        fresh, released = self.sums[-1]
        return fresh[1] + released[1]

    def bytes_per_triple(self):
        size = _dir_bytes(self.path("fresh")) + _dir_bytes(self.path("released"))
        return size / max(1, self.written_triples())

    def plan_incremental(self, affected_frac):
        return int(self.input_shape["labels_v2"] >= self.REBUILD_BELOW_LABELS
                   and affected_frac <= 0.5)

    def checks(self):
        ops = self.ctx.ops
        ops.check("kg_maintain.same_checksum", checks.same_checksums(self.sums))
        ops.run_all([
            ("kg_maintain.recrawl_equals_rebuild", self._check_recrawl),
            ("kg_maintain.release_equals_rebuild", self._check_release),
            ("kg_maintain.changed_urls", self._check_changed),
            ("kg_maintain.oracle_pr", lambda: checks.precision_recall(*self._oracle_sets())),
        ])

    def _check_recrawl(self):
        """Corpus axis: prior triples minus dropped urls plus fresh triples
        equal a full rebuild over the latest corpus."""
        latest = self.pages.join(self.recrawl.select("url"), "url", "left_anti") \
            .unionByName(self.recrawl)
        full = construct_kg(latest, self.v1, CFG, reextract=True,
                            tfidf_source_idf=self.src_idf, tfidf_index=self.index_v1)
        drop = self.read("dropped").withColumnRenamed("url", "_url")
        inc = self.triples.withColumn("_url", triple_url("subj")) \
            .join(drop, "_url", "left_anti").drop("_url") \
            .unionByName(self.read("fresh"))
        return checks.equal(checks.checksum(inc), checks.checksum(full), "checksum")

    def _check_release(self):
        """Ontology axis: the released KG equals a full re-map of the
        mention table against v2 under the same frozen models."""
        full = construct_kg_from_mentions(
            self.mentions, self.v2, CFG, tfidf_source_idf=self.src_idf,
            tfidf_index=self.index_v2,
        )
        return checks.equal(
            checks.checksum(self.read("released")), checks.checksum(full), "checksum"
        )

    def _check_changed(self):
        """Every planted change and every new url, and nothing else, is
        detected as changed."""
        return checks.equal(
            self.read("dropped").count(),
            self.planted["changed"] + self.planted["new_urls"], "changed urls",
        )

    def _oracle_sets(self):
        """``(got, expected)`` mapping triples for a small seeded corpus run
        through ``construct_full_kg`` and through the frozen single-node
        oracle of the reference mapper."""
        seed = self.ctx.seed + 1
        onto = inputs.ontology_pool(seed, 200)
        universe = inputs.mention_universe(seed, onto, 60)
        inputs.write_ontology(onto, self.path("oracle_onto"))
        inputs.write_pages(inputs.corpus(seed, 25, universe, 4, self.ZIPF),
                           self.path("oracle_pages"), n_files=1)
        o, p = self.read("oracle_onto"), self.read("oracle_pages")
        kg = construct_full_kg(p, o, CFG, out_path=self.path("oracle_kg"), reextract=True)
        got = {(r["subj"], r["pred"], r["obj"])
               for r in kg.filter(F.col("pred") == "mappedTo").collect()}
        m = detect_mentions(p).collect()
        lab = _labels(o).orderBy("iri", "is_synonym", "name").collect()
        rows = tfidf_mappings(
            [r["source_term"] for r in m], [r["source_term_id"] for r in m],
            [r["name"] for r in lab], [r["iri"] for r in lab],
            [r["display_label"] for r in lab],
            max_mappings=CFG.max_mappings, min_score=CFG.min_score,
        )
        exp = {(r["source_term_id"], "mappedTo", r["mapped_term_iri"]) for r in rows}
        return got, exp

    def shape(self):
        return {
            **self.input_shape,
            "prior_triples": self.triples.count(),
            "index_bytes": _index_bytes(self.index_v2),
        }


# --------------------------------------------------------------------------


class KgGraph(Workload):
    """KG consumption and release QA over a seeded triple relation:
    release diff, PageRank, co-occurrence, hierarchy closure and near-dup
    clusters."""

    name = "kg_graph"
    ops_per_iteration = 5
    prestart = False  # no Python kernels: the library's documented opt-out
    N_SUBJECTS, N_ENTITIES, ZIPF = 20000, 2000, 1.1
    SHARES = (0.01, 0.005, 0.005)  # rescored, removed, relinked
    DEPTH, WIDTH = 5, 20
    CHAINS, CHAIN_LEN = 50, 6
    PAGERANK_ITERS = 3
    COOCCUR_CAP = 64

    def setup(self):
        seed = self.ctx.seed
        prev, new, self.expected_diff = inputs.triples_release(
            seed, self.N_SUBJECTS, self.N_ENTITIES, self.ZIPF, *self.SHARES
        )
        edges = list(zip((s.rsplit("#", 1)[0] for s in prev["subj"]), prev["obj"]))
        self.expected_pagerank = checks.rank_fingerprint(
            checks.pagerank_replay(edges, self.PAGERANK_ITERS)
        )
        self.expected_cooccur = checks.cooccurrence_replay(edges, self.COOCCUR_CAP)
        inputs.write_frame(prev, self.path("prev"))
        inputs.write_frame(new, self.path("new"))
        hier, self.closure_size = inputs.layered_hierarchy(seed, self.DEPTH, self.WIDTH)
        inputs.write_ontology(hier, self.path("hierarchy"))
        inputs.write_frame(inputs.chain_pairs(seed, self.CHAINS, self.CHAIN_LEN),
                           self.path("pairs"))
        self.prev, self.new = self.read("prev"), self.read("new")
        self.hier, self.pairs = self.read("hierarchy"), self.read("pairs")
        self.results: list[dict] = []

    def iteration(self, traced):
        span, r = self.ctx.tracer.span, {}
        with span("graph.kg_diff"):
            r["diff"] = {row["status"]: row["n"] for row in
                         kg_diff(self.prev, self.new).groupBy("status")
                         .agg(F.count(F.lit(1)).alias("n")).collect()}
        with span("graph.pagerank"):
            edges = self.prev.select(triple_url("subj").alias("src"),
                                     F.col("obj").alias("dst"))
            r["pagerank"] = tuple(pagerank_int(edges, self.PAGERANK_ITERS).agg(
                F.count(F.lit(1)),
                F.sum(F.crc32(F.concat_ws("|", "node", F.col("rank_micro").cast("string")))),
            ).collect()[0])
        with span("graph.cooccur"):
            r["cooccur"] = tuple(entity_cooccurrence(self.prev, self.COOCCUR_CAP).agg(
                F.count(F.lit(1)), F.sum("co_count"), F.sum("lift_milli")).collect()[0])
        with span("graph.closure"):
            r["closure"] = ancestor_closure(self.hier).count()
        with span("dedup.neardup"):
            r["components"] = neardup_clusters(self.pairs).select("cluster_id") \
                .distinct().count()
        self.results.append(r)
        return {}

    def written_triples(self):
        return self.N_SUBJECTS

    def bytes_per_triple(self):
        return 0.0

    def checks(self):
        ops = self.ctx.ops
        for r in self.results:
            for name, got, expected in (
                ("diff_counts", r["diff"], self.expected_diff),
                ("closure_size", r["closure"], self.closure_size),
                ("components", r["components"], self.CHAINS),
                ("pagerank_replay", r["pagerank"], self.expected_pagerank),
                ("cooccur_replay", r["cooccur"], self.expected_cooccur),
            ):
                ops.check(f"kg_graph.{name}", checks.equal(got, expected, name))

    def shape(self):
        return {
            "triples": self.N_SUBJECTS, "entities": self.N_ENTITIES,
            "zipf_exponent": self.ZIPF, "planted_diff": self.expected_diff,
            "hierarchy_depth": self.DEPTH, "hierarchy_width": self.WIDTH,
            "closure_pairs": self.closure_size, "edges": self.N_SUBJECTS,
            "chains": self.CHAINS, "chain_length": self.CHAIN_LEN,
        }


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if f.endswith(".parquet"))
    return total


WORKLOADS = {w.name: w for w in (KgMaintain, KgGraph)}
