"""Output checks against implementations that share no code path with
the engine under test: DuckDB oracles for queries, ``ReferenceCrawl`` for
the crawl loop, and a union-find for connected components. Every check
returns a list of mismatch descriptions; an empty list means it passed.
A check that compares nothing fails, so it cannot pass vacuously."""

from __future__ import annotations

import pandas as pd

from tools.check_oracles import value_hash


def compare_frames(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Row count, column set and order-insensitive value hash."""
    if not len(want):
        return [f"{name}: nothing to compare"]
    problems = []
    if len(got) != len(want):
        problems.append(f"{name}: rows {len(got)} != {len(want)}")
    if sorted(got.columns) != sorted(want.columns):
        problems.append(f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}")
    elif value_hash(got) != value_hash(want):
        problems.append(f"{name}: value hash {value_hash(got)} != {value_hash(want)}")
    return problems


def compare_records(
    name: str, got: list[dict], want: list[dict], keys: tuple[str, ...]
) -> list[str]:
    """Per-record equality on ``keys`` (crawl ticks against the reference)."""
    if not want:
        return [f"{name}: nothing to compare"]
    problems = []
    if len(got) != len(want):
        problems.append(f"{name}: {len(got)} records != {len(want)}")
    for i, (g, w) in enumerate(zip(got, want)):
        for k in keys:
            if g.get(k) != w.get(k):
                problems.append(f"{name}[{i}].{k}: {g.get(k)} != {w.get(k)}")
    return problems


def components(pairs: list[tuple[int, int]]) -> set[frozenset[int]]:
    """Connected components of an edge list by union-find."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict[int, set[int]] = {}
    for x in parent:
        groups.setdefault(find(x), set()).add(x)
    return {frozenset(g) for g in groups.values()}


def compare_components(
    labels: pd.DataFrame, want: set[frozenset[int]]
) -> list[str]:
    """``labels(doc_id, component_id)`` must partition the documents
    exactly as ``want`` does."""
    if not want:
        return ["components: nothing to compare"]
    got = {
        frozenset(int(d) for d in g)
        for g in labels.groupby("component_id")["doc_id"]
        .apply(list)
        .tolist()
    }
    if got == want:
        return []
    return [
        f"components: {len(got)} groups != {len(want)} expected "
        f"({len(got - want)} unexpected, {len(want - got)} missing)"
    ]
