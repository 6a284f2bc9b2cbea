"""Seeded inputs and oracle triples for the KG workloads.

Inputs are generated with pandas/numpy only (no Spark), written as
parquet under the cache directory once per (workload, seed, size) and
reused; none of this is timed. The fixture world (ontology, linking
model, document pool) comes from the program's own fixture generators
at their default seed, so it is the same for every benchmark seed; the
benchmark seed picks which documents of the pool a run gets (and, for
kg_sparse, which of them keep their mentions). The work per run then
varies only by sampling, not by a different model per seed.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# documents per KG workload: sized so that set-up, a cold run and four
# warm runs fit in about a minute on 4 cores. Fewer documents would not
# buy more timed runs: in one long session each, warm runs settled near
# 3.2-3.4 s at both 4,000 and 2,000 documents, so per-stage Spark
# overhead, not the documents, sets most of a run's time
N_DOCS = 4_000

# fixture documents the seeded samples are drawn from
POOL_DOCS = 3 * N_DOCS

# kg_sparse: share of documents that keep their mention strings
SPARSE_KEEP = 0.1

# Expected gate plan per workload (recorded next to the plan the
# density probe actually picked; a flip is reported, not failed)
WORKLOADS = {
    "kg_dense": {"expect_plan": "dense"},
    "kg_sparse": {"expect_plan": "sparse"},
}

# words that replace the text of unmentioned kg_sparse documents
_FILLER = (
    "sample observed measured assay profile donor patient control "
    "experiment study figure result batch replicate tissue series"
).split()


def fixture_world():
    """(ontology, weights, thresholds) of the fixture world."""
    from cello_spark.sources.fixtures import (
        make_model_weights,
        make_ontology,
        make_thresholds,
    )

    onto = make_ontology()
    return onto, make_model_weights(onto), make_thresholds(onto)


def label_edges(onto) -> list[tuple[str, str]]:
    """is_a edges between labels (child, parent), patch edges included."""
    lab = set(onto.labels)
    edges = pd.concat([onto.edges, onto.patch_edges])
    return [
        (c, p)
        for c, p, r in edges[["src", "dst", "rel"]].itertuples(index=False)
        if r == "is_a" and c in lab and p in lab
    ]


def _alias_tokens(onto) -> set[str]:
    from cello_spark.plans.kg import prepare_ontology

    aliases = prepare_ontology(onto)["alias_dict"]
    return {tok for a in aliases.alias_norm for tok in a.split()}


def sparsify(docs: pd.DataFrame, seed: int, onto) -> tuple[pd.DataFrame, list[str]]:
    """A seeded SPARSE_KEEP share of the documents keep their mention
    strings (an exact count, so the linking work does not vary with the
    seed); in every other document each text span is replaced by as
    many filler words as it had tokens, offsets recomputed. Returns
    (documents, kept doc ids)."""
    filler = [w for w in _FILLER if w not in _alias_tokens(onto)]
    if len(filler) < 4:
        raise ValueError("filler vocabulary overlaps the alias dictionary")
    rng = np.random.default_rng(seed + 101)
    keep = np.zeros(len(docs), dtype=bool)
    keep[rng.choice(len(docs), size=round(SPARSE_KEEP * len(docs)), replace=False)] = True
    rows = []
    for kept, row in zip(keep, docs.itertuples(index=False)):
        if kept:
            rows.append({"doc_id": row.doc_id, "spans": row.spans})
            continue
        spans, offset = [], 0
        for s in row.spans:
            s = dict(s)
            if s["kind"] == "text":
                n_tok = len(s["text"].split())
                s["text"] = " ".join(rng.choice(filler, size=n_tok))
                s["offset"] = offset
                offset += len(s["text"]) + 1
            else:
                s["offset"] = offset
                offset += 1
            spans.append(s)
        rows.append({"doc_id": row.doc_id, "spans": spans})
    kept_ids = [d for d, k in zip(docs.doc_id, keep) if k]
    return pd.DataFrame(rows), kept_ids


def _write(pdf: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


def _publish(tmp: str, out: str) -> None:
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)


def document_pool(cache_root: str) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """(documents, features, oracle triples) of the fixture document
    pool, generated once per cache. The oracle triples are
    `oracle.golden_fixture_triples` over every pool document: the
    ontology's triples plus each document's typing triples, which
    depend on that document's features alone (~2 ms per document)."""
    from cello_spark import oracle
    from cello_spark.sources.fixtures import make_documents

    out = os.path.join(cache_root, "inputs", f"pool-n{POOL_DOCS}")
    if not os.path.exists(out):
        onto, weights, thresholds = fixture_world()
        docs, feats, _ = make_documents(onto, n_docs=POOL_DOCS)
        want = oracle.golden_fixture_triples(
            onto,
            {"features": feats, "weights": weights, "thresholds": thresholds},
            label_edges(onto),
        )
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        _write(docs, os.path.join(tmp, "documents.parquet"))
        _write(feats, os.path.join(tmp, "features.parquet"))
        _write(want[["subj", "pred", "obj"]], os.path.join(tmp, "oracle.parquet"))
        _publish(tmp, out)
    return tuple(
        pd.read_parquet(os.path.join(out, f"{name}.parquet"))
        for name in ("documents", "features", "oracle")
    )


def prepare_inputs(workload: str, seed: int, cache_root: str) -> str:
    """Generate (or reuse) the workload's inputs and oracle; returns the
    input directory, holding documents.parquet, features.parquet,
    oracle.parquet (golden triples: the ontology's plus the typing
    triples of every mentioned document) and meta.json."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; have {sorted(WORKLOADS)}")
    out = os.path.join(cache_root, "inputs", f"{workload}-s{seed}-n{N_DOCS}")
    if os.path.exists(os.path.join(out, "meta.json")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    pool_docs, pool_feats, pool_want = document_pool(cache_root)
    rng = np.random.default_rng(seed)
    pick = np.sort(rng.choice(len(pool_docs), size=N_DOCS, replace=False))
    docs = pool_docs.iloc[pick].reset_index(drop=True)
    feats = pool_feats.iloc[pick].reset_index(drop=True)
    mentioned = list(docs.doc_id)
    if workload == "kg_sparse":
        docs, mentioned = sparsify(docs, seed, fixture_world()[0])
    typing = pool_want.subj.isin(set(pool_docs.doc_id))
    want = pool_want[~typing | pool_want.subj.isin(set(mentioned))]
    _write(docs, os.path.join(tmp, "documents.parquet"))
    _write(feats, os.path.join(tmp, "features.parquet"))
    _write(want[["subj", "pred", "obj"]], os.path.join(tmp, "oracle.parquet"))
    meta = {
        "workload": workload,
        "seed": seed,
        "n_docs": N_DOCS,
        "n_mentioned_docs": len(mentioned),
        "oracle_triples": int(len(want)),
        "expect_plan": WORKLOADS[workload]["expect_plan"],
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    _publish(tmp, out)
    return out
