"""Output verification for the benchmark workloads.

Every check takes what a workload observed plus what it should have
produced and returns a list of problems (empty = correct). The checks
use no Spark, so the tests can feed them wrong outputs directly.
"""

from __future__ import annotations

import math

# What `run pipeline` produces on the generated documents (scale 0.01,
# fixed table seed), so these counts hold for every run seed.
PIPELINE_EXPECTED = {"documentsIn": 500, "documentsOut": 372,
                     "tokensOut": 21486, "chunks": 44}

# recall@5 of the IVF top-k (q48c) against the exact top-k (q48) on the
# generated embeddings, as measured; a faster ANN must not buy time
# with recall.
RECALL_FLOORS = {"q48c": 0.96}


class Outcome:
    """Operations attempted and failed in one run, with the reasons."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, name: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{name}: {p}" for p in problems)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def close(a: float, b: float, rel: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-6)


def same_rows(got: list[tuple], want: list[tuple]) -> list[str]:
    """Order-insensitive row comparison; floats compare to 1e-9."""
    if len(got) != len(want):
        return [f"{len(got)} rows, expected {len(want)}"]
    for g, w in zip(sorted(got, key=repr), sorted(want, key=repr)):
        if len(g) != len(w) or not all(
            close(x, y) if isinstance(y, float) else x == y
            for x, y in zip(g, w)
        ):
            return [f"row {g!r}, expected {w!r}"]
    return []


def check_batch(report_rows: int, report_files: int,
                want_rows: int, want_files: int) -> list[str]:
    out = []
    if report_files != want_files:
        out.append(f"loaded {report_files} files, expected {want_files}")
    if report_rows != want_rows:
        out.append(f"loaded {report_rows} rows, expected {want_rows}")
    return out


def check_ingest_totals(obs: dict, want: dict) -> list[str]:
    """Totals after the batch loop and the redelivery pass."""
    out = []
    for key in ("rows_loaded", "imported_uris", "schema_expansions",
                "redelivered_files_loaded"):
        if obs.get(key) != want.get(key):
            out.append(f"{key} = {obs.get(key)}, expected {want.get(key)}")
    return out


def check_pipeline(summary: dict, corpus: dict, chunks: dict,
                   want: dict = PIPELINE_EXPECTED) -> list[str]:
    """The CLI summary equals the recorded counts, and the chunk manifest
    sums to the scrubbed corpus it was packed from."""
    out = [f"{k} = {summary.get(k)}, expected {v}"
           for k, v in want.items() if summary.get(k) != v]
    if chunks.get("docs") != corpus.get("docs"):
        out.append(f"chunks hold {chunks.get('docs')} docs, "
                   f"corpus has {corpus.get('docs')}")
    if chunks.get("tokens") != corpus.get("tokens"):
        out.append(f"chunks hold {chunks.get('tokens')} tokens, "
                   f"corpus has {corpus.get('tokens')}")
    return out


def recall_at_5(exact: list[tuple], approx: list[tuple]) -> float:
    """Share of the exact (q_id, n_id) neighbour pairs the ANN returned."""
    want, got = set(exact), set(approx)
    return len(want & got) / len(want) if want else 0.0


def check_recall(recall: dict[str, float],
                 floors: dict[str, float] = RECALL_FLOORS) -> list[str]:
    return [f"recall@5 {code} = {recall.get(code)}, floor {floor}"
            for code, floor in floors.items()
            if recall.get(code, 0.0) < floor]
