"""Output checks. Each gates only a property the pipeline guarantees.

* extraction agrees with the pure-Python reference extractor at
  precision and recall >= SPO_GATE (the repository's own PR gate);
* every edge endpoint is a node;
* planted "<name> Inc" spellings share their base name's canon_id (both
  normalize to the same name: Jaccard 1.0, so every LSH band collides);
* an incremental update equals a full rebuild of the new snapshot, row
  for row, and reports exactly the planted page changes.

Merge recall over near-miss spellings is probabilistic under MinHash-LSH
and is only reported (canonicalize.merge_recall), never gated.
"""

from __future__ import annotations

import hashlib
from itertools import combinations
from typing import Any

from pyspark.sql import DataFrame, functions as F

from blarify_spark.ref import extract_text_bytes, extract_triples

SPO_GATE = 0.95

Spo = tuple[str, str, str, str]


def reference_spo(pages: list[dict[str, Any]]) -> set[Spo]:
    """(url, subj, pred, obj) of every page under the reference extractor."""
    out: set[Spo] = set()
    for page in pages:
        text = extract_text_bytes(page["html"])
        for t in extract_triples(text, page["lang"]):
            out.add((page["url"], t["subj"], t["pred"], t["obj"]))
    return out


def table_spo(df: DataFrame) -> set[Spo]:
    return {
        (r["url"], r["subj"], r["pred"], r["obj"])
        for r in df.select("url", "subj", "pred", "obj").collect()
    }


def precision_recall(got: set, expected: set) -> tuple[float, float]:
    if not got or not expected:
        return 0.0, 0.0
    tp = len(got & expected)
    return tp / len(got), tp / len(expected)


def sorted_rows(df: DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def dangling_edge_endpoints(nodes: DataFrame, edges: DataFrame) -> int:
    ids = nodes.select(F.col("canon_id").alias("id"))
    ends = edges.select(F.col("subj_id").alias("id")).union(
        edges.select(F.col("obj_id").alias("id"))
    )
    return ends.join(ids, "id", "left_anti").count()


def nil_id(surface: str) -> str:
    """The id linking gives a surface the alias dictionary does not know."""
    return hashlib.md5(f"nil:{surface.lower()}".encode()).hexdigest()


def mapping_dict(mapping: DataFrame) -> dict[str, str]:
    return {r["node_id"]: r["canon_id"] for r in mapping.collect()}


def split_inc_spellings(
    groups: list[list[str]], canon: dict[str, str]
) -> list[str]:
    """Planted "<name> Inc" spellings whose canon_id differs from their
    base name's (or that are missing from the mapping)."""
    bad = []
    for group in groups:
        base = group[0]
        for surface in group[1:]:
            if surface != f"{base} Inc":
                continue
            a, b = canon.get(nil_id(base)), canon.get(nil_id(surface))
            if a is None or a != b:
                bad.append(surface)
    return bad


def merge_precision_recall(
    groups: list[list[str]], canon: dict[str, str]
) -> tuple[float, float]:
    """Pairwise precision and recall of the merges among planted surfaces
    present in the graph: a pair is merged when both surfaces got one
    canon_id, and true when both were planted as spellings of one entity."""
    entity_of = {nil_id(s): i for i, g in enumerate(groups) for s in g}
    truth = {
        frozenset((nil_id(a), nil_id(b)))
        for g in groups
        for a, b in combinations(g, 2)
        if nil_id(a) in canon and nil_id(b) in canon
    }
    clusters: dict[str, list[str]] = {}
    for node, cid in canon.items():
        if node in entity_of:
            clusters.setdefault(cid, []).append(node)
    merged = {
        frozenset(p) for members in clusters.values() for p in combinations(members, 2)
    }
    hit = len(merged & truth)
    precision = hit / len(merged) if merged else 1.0
    recall = hit / len(truth) if truth else 1.0
    return precision, recall


def change_mismatches(changes: DataFrame, expected: dict[str, str]) -> int:
    """Urls whose reported change differs from the planted one (every url
    not planted must be UNCHANGED)."""
    got = {
        r["url"]: r["change"]
        for r in changes.filter(F.col("change") != "UNCHANGED")
        .select("url", "change")
        .collect()
    }
    return len(set(got.items()) ^ set(expected.items()))
