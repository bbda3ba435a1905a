"""Correctness checks on the engine's outputs, computed apart from it.

Expected values come from the planted truth (``corpus.py``), from the
input pages themselves (exact-duplicate groups are pages with equal
text: the generator emits text that normalization leaves unchanged),
and from the pure-Python greedy oracle (``umi_collapse_rs_spark.
oracle``, no Spark).  Every function returns a list of failure
messages; an empty list means the check passed.
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pyarrow.parquet as pq

RECALL_FLOOR = 0.99  # BASELINE.json dup-pair recall
# Edited recrawls carry 1-3 token edits (corpus.MAX_EDITS) on texts of
# >= 100 tokens, so each stays within the engine's verify predicate of
# its source (3-shingle Jaccard >= (100-9)/(100+9) ~ 0.83 > 0.5).  The
# probe compares against the source's cluster canonical, which for
# template-family members shares only the ~80% frame (Jaccard ~ 0.6),
# so a few edited template pages may be verified against no canonical
# and open a cluster of their own.
EDITED_FLOOR = 0.90


def read(path: str, columns: list[str] | None = None) -> pd.DataFrame:
    return pq.read_table(path, columns=columns).to_pandas()


def cluster_hash(clusters: pd.DataFrame) -> str:
    cols = ["url", "cluster_id", "canonical_url", "cluster_size", "exact_dup_count"]
    rows = clusters[cols].sort_values("url").astype(str).agg("\t".join, axis=1)
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def _exact_groups(pages: pd.DataFrame) -> pd.DataFrame:
    """Per page: its exact group's representative url (earliest warc_ts,
    then smallest url) and the group's size."""
    g = pages[["url", "warc_ts", "text"]].sort_values(["warc_ts", "url"])
    first = g.groupby("text", sort=False)["url"].transform("first")
    size = g.groupby("text", sort=False)["url"].transform("size")
    return pd.DataFrame({"url": g.url, "rep": first, "freq": size}).set_index("url")


def _pairs_in_groups(keys: pd.DataFrame, by: list[str]) -> int:
    n = keys.groupby(by).size()
    return int((n * (n - 1) // 2).sum())


def check_full(pages: pd.DataFrame, truth: pd.DataFrame, clusters: pd.DataFrame,
               pairs: pd.DataFrame, op_hashes: list[str], stats: dict) -> list[str]:
    from umi_collapse_rs_spark import oracle

    fails: list[str] = []
    # every input url exactly once
    if len(clusters) != len(pages) or not clusters.url.is_unique or set(clusters.url) != set(pages.url):
        fails.append(
            f"clusters rows {len(clusters)} (unique urls {clusters.url.nunique()}) != {len(pages)} input urls"
        )
        return fails
    canon = clusters.set_index("url")["canonical_url"]
    ex = _exact_groups(pages)
    ex["canonical"] = canon.reindex(ex.index)

    # planted exact copies share a cluster
    split = ex.groupby("rep")["canonical"].nunique()
    if (split > 1).any():
        fails.append(f"{int((split > 1).sum())} exact-duplicate groups split across clusters")

    # dup-pair recall against the planted groups
    planted = truth[truth.group != ""].merge(canon.rename("canonical").reset_index(), on="url")
    want = _pairs_in_groups(planted, ["group"])
    found = _pairs_in_groups(planted, ["group", "canonical"])
    recall = found / want if want else 1.0
    stats["recall"] = recall
    if recall < RECALL_FLOOR:
        fails.append(f"dup-pair recall {recall:.4f} < {RECALL_FLOOR}")

    # canonical = earliest page of the cluster's largest exact group
    reps = ex[ex.index == ex.rep].reset_index()[["url", "freq", "canonical"]]
    best = reps.sort_values(["canonical", "freq", "url"], ascending=[True, False, True])
    best = best.groupby("canonical", sort=False)["url"].first()
    wrong = best[best.index != best.values]
    if len(wrong):
        fails.append(f"{len(wrong)} clusters whose canonical is not the expected page, e.g. {wrong.index[0]}")

    # assignments equal the greedy directional oracle on the engine's pairs
    nodes = dict(zip(reps.url, reps.freq.astype(int)))
    plist = list(zip(pairs.src, pairs.dst, pairs.dist.astype(int)))
    stray = {u for a, b, _ in plist for u in (a, b)} - nodes.keys()
    if stray:
        fails.append(f"{len(stray)} pair endpoints are not exact-group representatives")
    else:
        want_root = oracle.greedy_directional(nodes, plist)
        diff = [u for u in nodes if canon[u] != want_root[u]]
        if diff:
            fails.append(f"{len(diff)} representatives differ from the greedy oracle, e.g. {diff[0]}")

    # every operation produced the same clusters
    if len(set(op_hashes)) != 1:
        fails.append(f"cluster hashes differ across operations: {sorted(set(op_hashes))}")
    return fails


def check_snapshot(snap_urls: pd.Series, prov: pd.DataFrame, assignments: pd.DataFrame,
                   source_cluster: pd.Series) -> tuple[list[str], int, int]:
    """-> (failures, edited pages, edited pages absorbed into their
    source's cluster)."""
    fails: list[str] = []
    if len(assignments) != len(snap_urls) or not assignments.url.is_unique or set(assignments.url) != set(snap_urls):
        fails.append(f"{len(assignments)} assignments for {len(snap_urls)} snapshot urls")
        return fails, 0, 0
    a = prov.merge(assignments, on="url")
    a["source_canonical"] = source_cluster.reindex(a.source_url).to_numpy()
    exact = a[a.kind == "exact"]
    bad = exact[(exact.via != "exact") | (exact.canonical_url != exact.source_canonical)]
    if len(bad):
        fails.append(f"{len(bad)} exact recrawls not assigned via=exact into their source's cluster")
    edited = a[a.kind == "edited"]
    absorbed = int((edited.canonical_url == edited.source_canonical).sum())
    return fails, len(edited), absorbed


def check_mass(state_freq: int, corpus_pages: int, absorbed_pages: int) -> list[str]:
    want = corpus_pages + absorbed_pages
    return [] if state_freq == want else [f"state canonical freq {state_freq} != {want} pages absorbed"]


def check_edited(edited: int, absorbed: int, stats: dict) -> list[str]:
    share = absorbed / edited if edited else 1.0
    stats["edited_absorbed"] = share
    return [] if share >= EDITED_FLOOR else [f"edited recrawls absorbed {share:.3f} < {EDITED_FLOOR}"]
