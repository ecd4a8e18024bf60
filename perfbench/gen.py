"""Seeded input generators. Every input the benchmark hands the program
is made here from ``--seed``; the same seed gives byte-identical inputs.

Two families:

* ER corpora — the package's own ``synth_corpus`` (documents, entity
  dictionary, gold labels, embeddings), split into a base corpus and
  arriving snapshots for the ``er_snapshots`` workload.
* Suite tables — ``documents`` / ``customer`` / ``supplier`` /
  ``embeddings`` Parquet files in the driver-table layout the
  ``__spark_entry__`` queries read, plus a PubTator text file for the
  preprocess plan. Documents carry planted near-duplicate families, so
  the document clustering has gold labels to score against.
"""

from __future__ import annotations

import os

import numpy as np

# the driver tables' token vocabulary (30 words) — small, so random
# documents share single words but almost never a 3-word shingle
SUITE_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def suite_documents(rng: np.random.Generator, n_docs: int, dup_rate: float = 0.1):
    """(columns dict, gold family per doc_id). A ``dup_rate`` share of
    the documents copy an earlier document of at least 30 words with
    0-2 word substitutions and sometimes a trailing ``dup`` token; each
    copy joins its source's family. Every other document is its own
    family. At 30+ words a copy keeps a 3-shingle Jaccard above 0.65
    with its source, so the gold families are exactly what a correct
    near-duplicate clustering at the suite's 0.5 threshold finds."""
    texts: list[str] = []
    family: list[int] = []
    long_docs: list[int] = []
    for i in range(n_docs):
        if long_docs and rng.random() < dup_rate:
            src = long_docs[int(rng.integers(0, len(long_docs)))]
            words = texts[src].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(SUITE_WORDS))
            if rng.random() < 0.5:
                words.append("dup")
            texts.append(" ".join(words))
            family.append(family[src])
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(SUITE_WORDS, size=n)))
            family.append(i)
        if len(texts[-1].split()) >= 30:
            long_docs.append(i)
    cols = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [str(x) for x in rng.choice(LANGS, size=n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    return cols, family


def write_suite_tables(out_dir: str, seed: int, n_docs: int) -> dict[int, int]:
    """Write the four driver tables the operator suite reads into
    ``out_dir`` (one Parquet file each, the layout of the
    ``__spark_entry__`` tables). Sizes follow those tables' ratios: 3
    customers and 0.2 suppliers
    per document, one 64-d unit embedding per document. Returns the
    documents' gold family per doc_id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    docs, family = suite_documents(rng, n_docs)
    pq.write_table(pa.table(docs), os.path.join(out_dir, "documents.parquet"))

    n_cust, n_supp = 3 * n_docs, max(20, n_docs // 5)
    pq.write_table(
        pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": [str(x) for x in rng.choice(SEGMENTS, n_cust)],
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        os.path.join(out_dir, "supplier.parquet"),
    )
    vec = rng.standard_normal((n_docs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(n_docs, dtype=np.int64),
                "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
                "label": rng.integers(0, 10, n_docs).astype(np.int32),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return dict(enumerate(family))


def write_pubtator(path: str, seed: int, n_docs: int) -> None:
    from entity_linking_in_biomedical_spark.sources.synthetic import (
        synth_pubtator_lines,
    )

    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(synth_pubtator_lines(n_docs=n_docs, n_entities=500, seed=seed)))


def write_er_inputs(corpus, out_dir: str, n_base: int, n_snap: int, n_snaps: int) -> None:
    """The ER inputs as Parquet files in the package's input schemas:
    ``snap<k>.parquet`` (documents ``n_base + k*n_snap`` onward),
    ``entities``, ``abbr`` and ``embeddings``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
         ("offset", pa.int32())]
    )
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, table) -> None:
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    for k in range(n_snaps):
        docs = corpus.documents[n_base + k * n_snap : n_base + (k + 1) * n_snap]
        write(
            f"snap{k}",
            pa.table(
                {
                    "doc_id": [d["doc_id"] for d in docs],
                    "spans": pa.array([d["spans"] for d in docs], pa.list_(span)),
                }
            ),
        )
    ents = corpus.entities
    write(
        "entities",
        pa.table(
            {
                "cui": [e["cui"] for e in ents],
                "sem_type": [e["sem_type"] for e in ents],
                "synonyms": pa.array([e["synonyms"] for e in ents], pa.list_(pa.string())),
            }
        ),
    )
    abbr = corpus.abbr_map
    write(
        "abbr",
        pa.table(
            {k: pa.array([a[k] for a in abbr], pa.string()) for k in ("doc_id", "abbr", "long_form")}
        ),
    )
    emb = sorted(corpus.embeddings.items())
    write(
        "embeddings",
        pa.table(
            {
                "norm": [k for k, _ in emb],
                "embedding": pa.array([v for _, v in emb], pa.list_(pa.float64())),
            }
        ),
    )


def write_base_state(corpus, n_base: int, path: str) -> None:
    """The cluster state a fold over the first ``n_base`` documents
    leaves behind, written from the gold labels: ``(node, cluster_id)``
    with every entity node ``e|<cui>`` its own root, each linked base
    surface ``s|<norm>`` under its entity (the smallest CUI when a
    surface carries several) and each NIL surface a singleton. Every
    cluster id is its cluster's minimum node, the invariant
    ``merge_into_clusters`` folds against."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from entity_linking_in_biomedical_spark.sources.synthetic import _nk

    root = {f"e|{e['cui']}": f"e|{e['cui']}" for e in corpus.entities}
    text = {
        (d["doc_id"], i): s["text"]
        for d in corpus.documents[:n_base]
        for i, s in enumerate(d["spans"])
    }
    for lab in corpus.labels:
        surface = text.get((lab["doc_id"], lab["span_seq"]))
        norm = _nk(surface) if surface is not None else ""
        if not norm:
            continue
        node = f"s|{norm}"
        cluster = f"e|{lab['cui_gold']}" if lab["cui_gold"] else node
        root[node] = min(root.get(node, cluster), cluster)
    nodes = sorted(root)
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({"node": nodes, "cluster_id": [root[n] for n in nodes]}),
        os.path.join(path, "part-0.parquet"),
    )
