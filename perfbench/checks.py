"""Output checks, run outside the timed region. Pure Python over rows.

Every check returns a list of problem strings; an empty list means the
output passed. Each non-empty list counts as one failed operation.
"""

from __future__ import annotations

import hashlib
from collections import Counter

MIN_PRECISION = 0.95
MIN_RECALL = 0.95


def expected_triples(n_pages: int, seed: int, body_scale: int) -> set[tuple]:
    """The (subj, pred, obj, url) set the extraction must produce, derived
    page by page from the generator at the workload's own ``body_scale``
    (``datagen.build_corpus`` ignores ``body_scale``, so it is not used)."""
    from gossiphs_spark.datagen import page_record

    out = set()
    for i in range(n_pages):
        url, _ts, _html, _text, _lang, title, body, links = page_record(
            i, n_pages, seed, body_scale)
        out.update((title, "mentions", e, url) for e in set(body) if e != title)
        out.update((title, "links_to", link, url) for link in set(links))
    return out


def check_triples(expected: set[tuple], got: list[tuple]) -> tuple[dict, list[str]]:
    """Precision and recall of ``got`` (subj, pred, obj, url) rows."""
    got_set = set(got)
    hit = len(expected & got_set)
    precision = hit / len(got_set) if got_set else 0.0
    recall = hit / len(expected) if expected else 1.0
    problems = []
    if precision < MIN_PRECISION:
        problems.append(f"triple precision {precision:.4f} < {MIN_PRECISION}")
    if recall < MIN_RECALL:
        problems.append(f"triple recall {recall:.4f} < {MIN_RECALL}")
    return {"precision": precision, "recall": recall}, problems


def check_graph(related: list[tuple], candidates: list[tuple],
                def_limit: int) -> list[str]:
    """kg_build invariants. ``related`` rows are (page, other, score);
    ``candidates`` rows are (ref_url, ref_name)."""
    problems = []
    if not related:
        problems.append("related is empty")
    self_links = sum(1 for p, o, _ in related if p == o)
    if self_links:
        problems.append(f"{self_links} related self-links")
    non_positive = sum(1 for _, _, s in related if not s > 0)
    if non_positive:
        problems.append(f"{non_positive} related scores <= 0")
    over = [k for k, n in Counter(candidates).items() if n > def_limit]
    if over:
        problems.append(f"{len(over)} (ref_url, ref_name) groups exceed "
                        f"def_limit={def_limit}")
    return problems


def check_lineage(records: list[dict], n_buckets: int,
                  rows_read: int) -> list[str]:
    """One committed lineage row per bucket, and their triple counts add up
    to what ``read_triples`` returns."""
    rows = [r for r in records if r.get("stage") == "triples"]
    per_bucket = Counter(int(r["bucket"]) for r in rows)
    problems = []
    if sorted(per_bucket) != list(range(n_buckets)):
        problems.append(f"committed buckets {sorted(per_bucket)} != "
                        f"0..{n_buckets - 1}")
    dup = sorted(b for b, n in per_bucket.items() if n > 1)
    if dup:
        problems.append(f"buckets with more than one commit row: {dup}")
    committed = sum(int(r["triple_count"]) for r in rows)
    if committed != rows_read:
        problems.append(f"lineage counts {committed} triples, read {rows_read}")
    return problems


def check_relate_answers(answers: dict[str, list[tuple]],
                         related: list[tuple], top: int) -> list[str]:
    """Each ``/relate`` answer is the key's ``top`` best (page, other,
    score) rows of the written related table, best score first."""
    by_page: dict[str, list[tuple]] = {}
    for row in related:
        by_page.setdefault(row[0], []).append(tuple(row))
    wrong = [key for key, got in answers.items()
             if got != sorted(by_page.get(key, []),
                              key=lambda r: (-r[2], r[1]))[:top]]
    return [f"{len(wrong)} /relate answers differ from the related table"] \
        if wrong else []


def table_hash(rows) -> str:
    """Order-insensitive digest of a table's rows, for comparing the output
    of two commits."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]
