"""Correctness gates. Each returns a list of mismatch descriptions; an
empty list means the job's outputs are right. They take plain Python
values so a test can hand them tampered inputs."""

from __future__ import annotations

from tests import golden_sim


def crawl_vs_golden(
    seen: set[tuple[str, str]],
    fetch_log: list[tuple[int, str, int, str]],
    golden_seen: dict[str, str],
    golden_log: list[tuple[int, str, int, str]],
    invalid_pages: int,
) -> list[str]:
    """URL-seen membership and per-host fetch order must equal the
    sequential golden model's; every fetched payload must validate."""
    errors = []
    golden = set(golden_seen.items())
    if seen != golden:
        errors.append(
            f"seen membership differs from golden: {len(seen - golden)} extra, "
            f"{len(golden - seen)} missing"
        )
    if sorted(fetch_log) != sorted(golden_log):
        errors.append("per-host fetch order differs from golden")
    if invalid_pages:
        errors.append(f"{invalid_pages} fetched pages failed validation")
    return errors


def golden_crawl(shape, seed_urls: list[str], max_epochs: int):
    return golden_sim.simulate(
        shape.n_urls, shape.n_hosts, shape.fanout, seed_urls,
        max_epochs=max_epochs, budget_scale=shape.budget_scale,
    )


def recrawl(
    fetch_log: list[tuple],
    invalidated: list[str],
    seen_after: set[tuple[str, str]],
    seen_before: set[tuple[str, str]],
    invalid_pages: int,
) -> list[str]:
    """Every invalidated URL, and nothing else, is fetched again after
    resume, in per-host (priority, discovery time, url) order; every
    payload validates; and the effective seen set converges back to the
    pre-invalidation set. ``fetch_log`` rows are (epoch, host, host
    rank, url, priority, discovery time) of the pages fetched after
    resume."""
    errors = []
    refetched = [r[3] for r in fetch_log]
    if sorted(refetched) != sorted(invalidated):
        errors.append(
            f"re-fetched set differs from the invalidated batch: "
            f"{len(set(invalidated) - set(refetched))} not re-fetched, "
            f"{len(refetched) - len(set(refetched) & set(invalidated))} unexpected"
        )
    by_host: dict[tuple, list] = {}
    for epoch, host, rank, url, prio, dt in fetch_log:
        by_host.setdefault((epoch, host), []).append((prio, dt, url, rank))
    for rows in by_host.values():
        if [r[3] for r in sorted(rows)] != list(range(1, len(rows) + 1)):
            errors.append("per-host fetch order after resume is not (priority, discovery time, url)")
            break
    if invalid_pages:
        errors.append(f"{invalid_pages} re-fetched pages failed validation")
    if seen_after != seen_before:
        errors.append(
            f"effective seen set after resume differs from before "
            f"invalidation: {len(seen_after ^ seen_before)} rows"
        )
    return errors


def shingles(text: str, k: int) -> frozenset[str]:
    """Word k-shingles as ``functions.text.word_shingles`` defines them:
    lowercased, trimmed, whitespace-run tokens; short docs are one
    whole-doc shingle."""
    words = text.lower().strip().split()
    if len(words) < k:
        return frozenset([" ".join(words)])
    return frozenset(" ".join(words[i:i + k]) for i in range(len(words) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


def _roots(nodes, pairs) -> dict:
    """Component root of every node under union-find over ``pairs``."""
    parent = {d: d for d in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return {d: find(d) for d in nodes}


def expected_survivors(doc_ids: list[int], pairs: list[tuple[int, int]]) -> set[int]:
    """The highest id of each component of the verified pairs survives
    (``dedup_canonical`` with ``prefer=None``); documents in no pair
    survive untouched."""
    best: dict[int, int] = {}
    for d, r in _roots(doc_ids, pairs).items():
        best[r] = max(best.get(r, d), d)
    return set(best.values())


def planted_recall(
    families: list[list[int]],
    sh: dict[int, frozenset],
    pairs: list[tuple[int, int]],
    tau: float,
) -> float:
    """Share of planted near-duplicate pairs (same family, exact Jaccard
    >= tau) that the verified pairs put in one component."""
    root = _roots(list(sh), pairs)
    hit = total = 0
    for fam in families:
        for i, a in enumerate(fam):
            for b in fam[i + 1:]:
                if jaccard(sh[a], sh[b]) >= tau:
                    total += 1
                    hit += root[a] == root[b]
    return hit / total if total else 1.0


def dedup(
    sh: dict[int, frozenset],
    verified: list[tuple[int, int, float]],
    survivors: set[int],
    tau: float,
) -> list[str]:
    """Exact Jaccard >= tau, recomputed in plain Python, for every
    verified pair; the survivor set is one document per component."""
    errors = []
    bad = [
        (a, b) for a, b, j in verified
        if jaccard(sh[a], sh[b]) < tau or abs(jaccard(sh[a], sh[b]) - j) > 1e-9
    ]
    if bad:
        errors.append(f"{len(bad)} verified pairs fail exact Jaccard >= {tau}")
    want = expected_survivors(list(sh), [(a, b) for a, b, _ in verified])
    if survivors != want:
        errors.append(
            f"survivor set differs: {len(survivors - want)} extra, "
            f"{len(want - survivors)} missing"
        )
    return errors
