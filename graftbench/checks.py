"""Output checks: every result an operation returns is compared with its
oracle after the clock stops, and a mismatch is counted against the
operations attempted — it never raises.

Results are recorded per check key (an operation name, or an
operation plus ingest generation). Identical results are stored once,
so a long window costs one oracle comparison per distinct result.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable
from dataclasses import dataclass, field

from minoan_athenaeum_spark.testing import _normalize, compare_results

Table = tuple[list[str], list[tuple]]  # (columns, rows)


def parse_rendered(text: str) -> Table:
    """Columns and rows back out of ``Athenaeum.show``'s rendering
    (header, dash underline, `` | ``-separated cells). A malformed
    underline yields no columns, which no oracle matches."""
    lines = text.split("\n")
    if len(lines) < 2 or set(lines[1]) != {"-"} or len(lines[1]) != len(lines[0]):
        return [], []
    cols = [c.strip() for c in lines[0].split(" | ")]
    return cols, [tuple(c.strip() for c in line.split(" | ")) for line in lines[2:]]


def digest(table: Table) -> str:
    cols, rows = table
    return hashlib.sha1(repr((sorted(cols), _normalize(cols, rows))).encode()).hexdigest()


@dataclass
class Checker:
    """Collects results per key and checks each distinct one once."""

    samples: dict[str, dict[str, Table]] = field(default_factory=dict)
    counts: dict[str, dict[str, int]] = field(default_factory=dict)
    errors: dict[str, int] = field(default_factory=dict)

    def record(self, key: str, table: Table) -> None:
        d = digest(table)
        self.samples.setdefault(key, {}).setdefault(d, table)
        per = self.counts.setdefault(key, {})
        per[d] = per.get(d, 0) + 1

    def record_error(self, key: str) -> None:
        self.errors[key] = self.errors.get(key, 0) + 1

    def attempted(self) -> int:
        return sum(sum(c.values()) for c in self.counts.values()) + sum(self.errors.values())

    def evaluate(self, oracle: Callable[[str], Table]) -> tuple[int, list[str]]:
        """(failed operation count, problem descriptions). A key whose
        oracle itself cannot be computed fails all of its results."""
        failed = sum(self.errors.values())
        problems = [f"{k}: {n} raised" for k, n in self.errors.items()]
        for key, per in self.samples.items():
            try:
                ocols, orows = oracle(key)
            except Exception as exc:  # noqa: BLE001 - counted, not raised
                failed += sum(self.counts[key].values())
                problems.append(f"{key}: oracle failed: {exc!r}"[:300])
                continue
            for d, (cols, rows) in per.items():
                bad = compare_results(cols, rows, ocols, orows)
                if bad:
                    failed += self.counts[key][d]
                    problems.append(f"{key}: {bad[0]}"[:300])
        return failed, problems
