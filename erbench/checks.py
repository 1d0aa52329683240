"""Correctness checks and quality figures, computed apart from the engine.

Everything here works on plain Python values collected from the engine's
outputs (or read from its committed parquet tables) and on the generator's
planted truth. Nothing calls the engine's own evaluation code.
"""

from __future__ import annotations

import re
from collections import Counter

_FOLD = str.maketrans(
    "áàâäãåéèêëíìîïóòôöõúùûüýÿñçšžÁÀÂÄÃÅÉÈÊËÍÌÎÏÓÒÔÖÕÚÙÛÜÝÑÇŠŽ",
    "aaaaaaeeeeiiiiooooouuuuyyncszAAAAAAEEEEIIIIOOOOOUUUUYNCSZ",
)


class CheckFailed(AssertionError):
    pass


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _tokens(s: str) -> list[str]:
    """lower -> diacritic fold -> maximal [a-z0-9] runs (the documented
    normalization the engine keys its tokens on)."""
    return [t for t in re.split("[^a-z0-9]+", s.translate(_FOLD).lower()) if t]


def context_tokens(title: str, text: str) -> set[str]:
    return set(_tokens(text)) - set(_tokens(title))


def components(nodes, edges) -> dict[int, int]:
    """Union-find: node -> smallest node id in its connected component."""
    parent = {n: n for n in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def check_outputs(corpus, records, pairs, edges, clusters) -> None:
    """records: list of (record_id, url, surface, ctx_tokens);
    pairs / edges: lists of (id_a, id_b); clusters: list of
    (record_id, cluster_id). Raises CheckFailed on the first violation."""
    urls = [r[1] for r in records]
    _require(len(urls) == len(set(urls)), "more than one record for a url")
    _require(set(urls) == set(corpus.latest), "records do not cover the urls")
    for _rid, url, surface, ctx in records:
        title, text = corpus.latest[url]
        _require(surface == title, f"surface of {url} is not its latest title")
        _require(
            len(ctx) == len(set(ctx)) and set(ctx) == context_tokens(title, text),
            f"context of {url} is not its latest snapshot's text",
        )
    ids = {r[0] for r in records}
    _require(len(ids) == len(records), "record ids are not unique")
    pair_set = set(pairs)
    _require(len(pair_set) == len(pairs), "duplicate candidate pairs")
    _require(all(a < b for a, b in pairs), "candidate pair with id_a >= id_b")
    _require(
        all(a in ids and b in ids for a, b in pairs),
        "candidate pair names an unknown record",
    )
    _require(set(edges) <= pair_set, "match edge that is not a candidate pair")
    label = dict(clusters)
    _require(
        len(label) == len(clusters) and set(label) == ids,
        "records and clusters do not match one to one",
    )
    cc = components(ids, edges)
    # same partition <=> each engine cluster maps to exactly one component
    # and the two have the same number of parts
    _require(
        len({(label[n], cc[n]) for n in ids}) == len(set(cc.values()))
        == len(set(label.values())),
        "clusters are not the connected components of the match edges",
    )


# summary fields that are timings, hence differ between a run and its resume
TIMING_KEYS = ("wall_sec", "score_stage_sec", "pairs_per_sec")


def _untimed(summary: dict) -> dict:
    return {k: v for k, v in summary.items() if k not in TIMING_KEYS}


def catalog_problems(summary, again, records, pairs, edges, clusters,
                     clusters_after) -> list[str]:
    """`run_with_catalog`'s summary against a recount of its committed
    tables, and its resume (`again`) against the first run."""
    problems = []
    recount = {
        "n_records": len(records),
        "n_candidate_pairs": len(pairs),
        "n_match_edges": len(edges),
        "n_clusters": len({c for _, c in clusters}),
    }
    for k, v in recount.items():
        if summary[k] != v:
            problems.append(f"summary {k}={summary[k]} but the table holds {v}")
    if _untimed(again) != _untimed(summary):
        problems.append("resume returned a different summary")
    if clusters_after != clusters:
        problems.append("resume changed the committed clusters")
    return problems


def pairwise_f1(entity_of: dict[int, int], cluster_of: dict[int, int]) -> float:
    """F1 of same-cluster against same-entity over ALL record pairs."""
    def c2(n: int) -> int:
        return n * (n - 1) // 2

    tp = sum(c2(n) for n in Counter(
        (cluster_of[r], entity_of[r]) for r in entity_of).values())
    pred = sum(c2(n) for n in Counter(cluster_of[r] for r in entity_of).values())
    true = sum(c2(n) for n in Counter(entity_of.values()).values())
    return 2 * tp / (pred + true) if pred + true else 1.0


def candidate_f1(entity_of, cluster_of, pairs) -> float:
    """F1 of same-cluster against same-entity over the candidate pairs."""
    tp = fp = fn = 0
    for a, b in pairs:
        same = entity_of[a] == entity_of[b]
        pred = cluster_of[a] == cluster_of[b]
        tp += same and pred
        fp += pred and not same
        fn += same and not pred
    return 2 * tp / (2 * tp + fp + fn) if tp + fp + fn else 1.0


def blocking_ratios(entity_of, pairs) -> tuple[float, float]:
    """(pair completeness, pair quality) of the candidate pairs."""
    true_all = sum(
        n * (n - 1) // 2 for n in Counter(entity_of.values()).values()
    )
    true_cand = sum(entity_of[a] == entity_of[b] for a, b in pairs)
    return true_cand / true_all, true_cand / max(len(pairs), 1)


def quality(corpus, records, pairs, edges, clusters) -> dict:
    """Run every check; return the F1 figures, the blocking ratios and the
    list of failed checks (figures stay 0 when the outputs are too broken
    to score)."""
    out = {"pairwise_f1": 0.0, "candidate_f1": 0.0, "pair_completeness": 0.0,
           "pair_quality": 0.0, "problems": []}
    try:
        check_outputs(corpus, records, pairs, edges, clusters)
    except CheckFailed as e:
        out["problems"].append(str(e))
        return out
    entity_of = {r[0]: corpus.gold[r[1]] for r in records}
    cluster_of = dict(clusters)
    out["candidate_f1"] = candidate_f1(entity_of, cluster_of, pairs)
    if out["candidate_f1"] < 0.99:
        out["problems"].append(
            f"F1 over candidate pairs {out['candidate_f1']:.4f} < 0.99")
    out["pairwise_f1"] = pairwise_f1(entity_of, cluster_of)
    out["pair_completeness"], out["pair_quality"] = blocking_ratios(
        entity_of, pairs)
    return out
