"""The benchmark's workloads. Each one generates its inputs from the
seed in ``setup`` and warms up there by running its first operation
once, untimed and into outputs of its own (as ``bench.py`` warms up:
Spark caches generated code per source, so the timed operations reuse
the compiled classes). It runs one timed operation per ``op`` call (a
closed loop with one client: the next operation starts when the
previous one has finished) and checks every output in ``check``,
outside the timed region.

* ``er_snapshots`` — setup writes the cluster state of a base corpus;
  each operation links one arriving snapshot with
  ``link_snapshot(out_dir=<fresh dir>)``, folds it into the state the
  previous operation wrote, relabels the snapshot's mentions and sinks
  the results to Parquet.
* ``operator_suite`` — each operation is one pass over the preprocess
  plan and five ``__spark_entry__`` queries on seeded driver tables.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections import Counter
from dataclasses import dataclass, field

import pandas as pd

import gen
from tests.test_pipeline import pairwise_f1  # the repo's F1 definition

# er_snapshots sizes: a base corpus whose state setup writes, and
# arriving snapshots small enough that fixed per-job, driver and commit
# costs dominate each link
ER_BASE_DOCS = 2000
ER_SNAP_DOCS = 250
ER_MAX_SNAPS = 2
ER_ENTITIES = 300

# operator_suite sizes (the driver tables' shape; their DuckDB twins
# are the gate's main cost). cc_incremental is left out for the run
# budget: its merge_into_clusters runs in every er_snapshots fold, and
# cc_retract and doc_clusters_cc reach the general connected_components
SUITE_DOCS = 200
SUITE_PUBTATOR_DOCS = 1000
SUITE_QUERIES = (
    "cc_retract",
    "doc_clusters_cc",
    "one_to_one",
    "simhash_dedup",
    "jw_pairs",
)
PREPROCESS = "preprocess"


@dataclass
class OpResult:
    wall_s: float
    attempted: int
    # per item: name -> digest (a failed item maps to None)
    digests: dict[str, str | None] = field(default_factory=dict)


def digest_frame(df: pd.DataFrame) -> str:
    """Order-free digest of a result: columns by name, floats rounded to
    9 places, rows sorted by their text form."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
    rows = sorted(json.dumps(r, default=str) for r in df.astype(object).values.tolist())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def read_parquet(path: str) -> pd.DataFrame:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pandas()


class ErSnapshots:
    name = "er_snapshots"

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.ops_done = 0
        self.failures: list[str] = []

    # -- setup ---------------------------------------------------------------
    def setup(self) -> dict[str, float]:
        """Inputs (snapshot documents, dictionary, abbreviations,
        embeddings and the base state, as Parquet files the program
        reads) and warm-up (the first operation's link into a
        directory of its own, which also spawns the Python UDF
        workers); returns their walls."""
        from entity_linking_in_biomedical_spark.sources.synthetic import synth_corpus

        t0 = time.perf_counter()
        c = synth_corpus(
            n_docs=ER_BASE_DOCS + ER_MAX_SNAPS * ER_SNAP_DOCS,
            n_entities=ER_ENTITIES,
            seed=self.seed,
        )
        self.corpus = c
        gen.write_base_state(c, ER_BASE_DOCS, self._paths("base")["state"])
        inputs = os.path.join(self.work, "er", "inputs")
        gen.write_er_inputs(c, inputs, ER_BASE_DOCS, ER_SNAP_DOCS, ER_MAX_SNAPS)

        def read(name):
            return self.spark.read.parquet(os.path.join(inputs, f"{name}.parquet"))

        self.snaps = [read(f"snap{k}") for k in range(ER_MAX_SNAPS)]
        self.ents, self.abbr, self.emb = read("entities"), read("abbr"), read("embeddings")
        t1 = time.perf_counter()
        self._link(0, "base", "warm")
        return {"inputs": t1 - t0, "warm_up": time.perf_counter() - t1}

    def _paths(self, tag: str) -> dict[str, str]:
        d = os.path.join(self.work, "er", tag)
        return {k: os.path.join(d, k) for k in ("links", "state", "mentions", "docs")}

    # -- timed operation -------------------------------------------------------
    def op(self) -> OpResult:
        """Link the next snapshot onto the state the previous operation
        wrote: link_snapshot into a fresh out_dir (its fold and relabel
        included), then sink the merged state, the relabeled mentions
        and the linked documents to Parquet."""
        k = self.ops_done
        self.ops_done += 1
        return self._link(k, "base" if k == 0 else f"snap{k - 1}", f"snap{k}")

    def repeat(self, tag: str, tracer=None) -> OpResult:
        """Re-run the first operation (same snapshot, same base state)
        into fresh directories; its digest is keyed like the first's.
        The tracer, when given, is already installed."""
        r = self._link(0, "base", tag)
        r.digests = {"snap0": r.digests[tag]}
        return r

    def _link(self, k: int, prior: str, tag: str) -> OpResult:
        from entity_linking_in_biomedical_spark.plans.incremental_er import link_snapshot

        p = self._paths(tag)
        t0 = time.perf_counter()
        try:
            res = link_snapshot(
                self.spark,
                self.snaps[k],
                self.ents,
                self.spark.read.parquet(self._paths(prior)["state"]),
                embeddings=self.emb,
                abbr_map=self.abbr,
                out_dir=p["links"],
            )
            res["assignments"].write.parquet(p["state"])
            res["mention_clusters"].write.parquet(p["mentions"])
            res["linked_documents"].write.parquet(p["docs"])
        except Exception as e:  # noqa: BLE001 — a failed link is counted, not fatal
            self.failures.append(f"{tag}: {type(e).__name__}: {e}")
            return OpResult(time.perf_counter() - t0, 1, {tag: None})
        wall = time.perf_counter() - t0
        return OpResult(wall, 1, {tag: self._digest(tag)})

    def more(self) -> bool:
        return self.ops_done < ER_MAX_SNAPS

    def _digest(self, tag: str) -> str:
        p = self._paths(tag)
        mc = read_parquet(p["mentions"])[["doc_id", "span_seq", "norm", "cluster_id"]]
        st = read_parquet(p["state"])[["node", "cluster_id"]]
        return hashlib.sha256((digest_frame(mc) + digest_frame(st)).encode()).hexdigest()

    # -- correctness gate ------------------------------------------------------
    def kernel_inputs(self, tracer) -> tuple[list[tuple[str, str]], dict[str, float] | None]:
        """The pair strings the traced link scored and its fitted IDF."""
        return tracer.pair_strings, tracer.idf

    def check(self, repeats: list[str]) -> tuple[list[str], float]:
        """Failures of every linked snapshot (the timed ones and the
        ``repeats``), and the pairwise F1 of the first snapshot's
        mention clusters against the gold labels."""
        tags = [f"snap{k}" for k in range(self.ops_done)] + repeats
        bad: list[str] = list(self.failures)
        docs_of = {d["doc_id"]: d for d in self.corpus.documents}
        f1 = 0.0
        for tag in tags:
            p = self._paths(tag)
            try:
                ld = read_parquet(p["docs"])
                mc = read_parquet(p["mentions"])
            except OSError as e:
                bad.append(f"{tag}: outputs missing ({e})")
                continue
            if len(ld) != ER_SNAP_DOCS or ld["doc_id"].duplicated().any():
                bad.append(f"{tag}: {len(ld)} linked documents for {ER_SNAP_DOCS} inputs")
            for doc_id, spans in zip(ld["doc_id"], ld["spans"]):
                src = [tuple(s.values()) for s in docs_of[doc_id]["spans"]]
                got = [
                    (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans
                ]
                if got != src:
                    bad.append(f"{tag}: spans of {doc_id} differ from the input")
                    break
            if mc.duplicated(["doc_id", "span_seq"]).any() or mc["cluster_id"].isna().any():
                bad.append(f"{tag}: a mention has no cluster id or more than one")
            if tag == "snap0":
                gold = {
                    (l["doc_id"], l["span_seq"]): l["cluster_id"]
                    for l in self.corpus.labels
                }
                pred = dict(zip(zip(mc["doc_id"], mc["span_seq"]), mc["cluster_id"]))
                f1 = pairwise_f1(pred, gold)
        return bad, f1


class OperatorSuite:
    name = "operator_suite"

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.tables = os.path.join(work, "tables")
        self.pubtator = os.path.join(work, "pubtator.txt")
        self.results: dict[str, pd.DataFrame] = {}
        self.failures: list[str] = []
        self.item_walls: list[dict[str, float]] = []  # per pass

    def setup(self) -> dict[str, float]:
        """Inputs and warm-up; returns their walls."""
        import __spark_entry__ as E

        t0 = time.perf_counter()
        self.family = gen.write_suite_tables(self.tables, self.seed, SUITE_DOCS)
        gen.write_pubtator(self.pubtator, self.seed, SUITE_PUBTATOR_DOCS)
        self.queries = E.queries()
        t1 = time.perf_counter()
        self._pass(keep=False, tracer=None)
        return {"inputs": t1 - t0, "warm_up": time.perf_counter() - t1}

    def _run_item(self, name: str) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
        """(result, frames to digest); preprocess returns its mentions,
        and its context blocks are digested too."""
        if name == PREPROCESS:
            from entity_linking_in_biomedical_spark.plans.preprocess import (
                pubtator_to_context,
            )

            pre = pubtator_to_context(self.spark, self.pubtator)
            ctx = pre["context"].toPandas()
            ctx["tokens"] = [[(t["token"], t["tag"]) for t in ts] for ts in ctx["tokens"]]
            mentions = pre["mentions"].toPandas()
            return mentions, [mentions, ctx]
        out = self.queries[name](self.spark, self.tables).toPandas()
        return out, [out]

    def items(self) -> tuple[str, ...]:
        return (PREPROCESS,) + SUITE_QUERIES

    def more(self) -> bool:
        return True

    def op(self) -> OpResult:
        return self._pass(keep=True, tracer=None)

    def repeat(self, tag: str, tracer=None) -> OpResult:
        """Another pass over the same tables; under ``tracer`` each item
        runs in a span of its own."""
        return self._pass(keep=False, tracer=tracer)

    def _pass(self, keep: bool, tracer) -> OpResult:
        """One pass; ``keep`` stores the results for the gate."""
        outputs: dict[str, list[pd.DataFrame] | None] = {}
        walls: dict[str, float] = {}
        self.item_walls.append(walls)
        t_pass = time.perf_counter()
        for name in self.items():
            span_name = (
                "plans.preprocess.pubtator_to_context"
                if name == PREPROCESS
                else f"spark_entry.{name}"
            )
            span = tracer.open(span_name) if tracer is not None else None
            t0 = time.perf_counter()
            try:
                out, outputs[name] = self._run_item(name)
            except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
                self.failures.append(f"{name}: {type(e).__name__}: {e}")
                outputs[name] = None
                continue
            finally:
                walls[name] = time.perf_counter() - t0
                if span is not None:
                    tracer.close(span)
            if keep:
                self.results[name] = out
                if name == PREPROCESS:
                    ctx = outputs[name][1]
                    self.context_blocks = set(zip(ctx["doc_id"], ctx["sent_seq"]))
        wall = time.perf_counter() - t_pass
        digests = {
            name: None
            if frames is None
            else hashlib.sha256("".join(map(digest_frame, frames)).encode()).hexdigest()
            for name, frames in outputs.items()
        }
        return OpResult(wall, len(self.items()), digests)

    def check(self, repeats: list[str]) -> tuple[list[str], float]:
        """Each query of the first pass against its DuckDB twin,
        preprocess against the file's annotations (one context block
        per mention), and the document clusters' pairwise F1 against
        the planted near-duplicate families. Repeated passes are checked
        by their digests."""
        import duckdb

        import __spark_entry__ as E
        from tools.oracle_check import _canon, _values_match

        bad = list(self.failures)
        oracles = E.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "customer", "supplier", "embeddings"):
                path = os.path.join(self.tables, f"{t}.parquet")
                con.execute(f"create view {t} as select * from read_parquet('{path}')")
            for name in SUITE_QUERIES:
                if name not in self.results:
                    continue
                got = _canon(self.results[name])
                want = _canon(con.execute(oracles[name]).df())
                if not _values_match(got, want):
                    bad.append(f"{name}: differs from its oracle_sql() twin")
        finally:
            con.close()
        if PREPROCESS in self.results:
            bad += self._check_preprocess(self.results[PREPROCESS])
        f1 = 0.0
        if "doc_clusters_cc" in self.results:
            cluster = {}
            for cid, members in zip(
                self.results["doc_clusters_cc"]["cluster_id"],
                self.results["doc_clusters_cc"]["members"],
            ):
                for m in members.split(","):
                    cluster[int(m)] = cid
            pred = {i: cluster.get(i, f"single-{i}") for i in self.family}
            f1 = pairwise_f1(pred, self.family)
        return bad, f1

    def kernel_inputs(self, tracer) -> tuple[list[tuple[str, str]], None]:
        """The pair strings jw_pairs scores (lower-cased customer and
        supplier names within a nation); no suite query fits an IDF."""
        cust = read_parquet(os.path.join(self.tables, "customer.parquet"))
        supp = read_parquet(os.path.join(self.tables, "supplier.parquet"))
        pairs = cust.merge(supp, left_on="c_nationkey", right_on="s_nationkey")
        a = pairs["c_name"].str.lower().tolist()
        b = pairs["s_name"].str.lower().tolist()
        return list(zip(a, b)), None

    def _check_preprocess(self, mentions: pd.DataFrame) -> list[str]:
        want: Counter = Counter()
        with open(self.pubtator, encoding="utf-8") as f:
            for line in f:
                parts = line.rstrip("\n").split("\t")
                if len(parts) == 6:
                    want[(parts[0], parts[5].split(":", 1)[-1], parts[3])] += 1
        got = Counter(zip(mentions["doc_id"], mentions["cui"], mentions["surface"]))
        bad = []
        if got != want:
            bad.append(f"preprocess: {sum(got.values())} mentions, file has {sum(want.values())}")
        # one context block per surviving mention, numbered alike
        if self.context_blocks != set(zip(mentions["doc_id"], mentions["span_seq"])):
            bad.append("preprocess: context blocks do not pair one-to-one with mentions")
        return bad


WORKLOADS = {w.name: w for w in (ErSnapshots, OperatorSuite)}


def config_key(workload: str) -> str:
    """Short hash of the sizes a workload's outputs depend on."""
    sizes = (
        (ER_BASE_DOCS, ER_SNAP_DOCS, ER_MAX_SNAPS, ER_ENTITIES)
        if workload == ErSnapshots.name
        else (SUITE_DOCS, SUITE_PUBTATOR_DOCS, SUITE_QUERIES)
    )
    return hashlib.sha256(repr(sizes).encode()).hexdigest()[:12]
