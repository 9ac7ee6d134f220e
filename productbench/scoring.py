"""Pair-level scores of a clustering against planted truth, and partition
comparison between two clusterings of the same documents.

Clusterings are pandas Series mapping a document key to a cluster key.
Documents absent from a truth map are singletons.
"""

from __future__ import annotations

import pandas as pd


def _pairs(sizes: pd.Series) -> int:
    return int((sizes * (sizes - 1) // 2).sum())


def pair_scores(pred: pd.Series, truth: pd.Series) -> dict:
    """Recall of truth pairs and precision of predicted pairs.

    ``pred`` maps every document to its predicted cluster; ``truth`` maps
    the documents that have a planted cluster to it. A pair is two
    documents in one cluster.
    """
    df = pd.DataFrame({"pred": pred})
    df["truth"] = truth.reindex(df.index)
    # unplanted documents are their own truth cluster
    missing = df["truth"].isna()
    df["truth"] = df["truth"].astype(str)
    df.loc[missing, "truth"] = ["single:" + str(k) for k in df.index[missing]]
    truth_pairs = _pairs(df.groupby("truth").size())
    pred_pairs = _pairs(df.groupby("pred").size())
    both = _pairs(df.groupby(["pred", "truth"]).size())
    return {
        "truth_pairs": truth_pairs,
        "pred_pairs": pred_pairs,
        "recall": both / truth_pairs if truth_pairs else 1.0,
        "precision": both / pred_pairs if pred_pairs else 1.0,
    }


def partition_diff(got: pd.Series, ref: pd.Series) -> dict:
    """Compare two clusterings of the same documents.

    ``mismatch_docs``: documents whose cluster in ``got`` is not exactly
    their cluster in ``ref``. ``split_docs``: documents of a ``ref`` cluster
    that ``got`` spreads over more than one cluster, i.e. connectivity that
    ``got`` lost.
    """
    df = pd.DataFrame({"got": got, "ref": ref.reindex(got.index)})
    if df["ref"].isna().any() or len(ref) != len(got):
        raise ValueError("clusterings cover different documents")
    n_got = df.groupby("got")["ref"].transform("size")
    n_ref = df.groupby("ref")["got"].transform("size")
    n_both = df.groupby(["got", "ref"])["got"].transform("size")
    mismatch = (n_got != n_both) | (n_ref != n_both)
    split = df.groupby("ref")["got"].transform("nunique") > 1
    return {"mismatch_docs": int(mismatch.sum()), "split_docs": int(split.sum())}


def components(edges: list[tuple[int, int]], vertices) -> pd.Series:
    """Connected components of ``edges`` over ``vertices`` as id -> min member id."""
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return pd.Series({v: find(v) for v in parent})
