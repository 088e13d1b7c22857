"""Shared pieces of the benchmark workloads: the run context, the result
record, file-size accounting and the DuckDB row comparison."""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Bench:
    """One benchmark run: the session, a private scratch root, the seed,
    the measuring window and (in a traced run) the tracer. ``setup_gen_s``
    is the time spent writing generated inputs before the first timed
    operation, which set-up time leaves out."""

    spark: object
    root: str
    seed: int
    seconds: float
    tracer: object | None = None
    first_timed: float | None = None
    gen_s: float = 0.0
    setup_gen_s: float = 0.0

    @contextlib.contextmanager
    def generating(self):
        """Time spent inside is input generation, not set-up."""
        t0 = time.time()
        try:
            yield
        finally:
            self.gen_s += time.time() - t0

    def start_timing(self) -> None:
        """Mark the first timed operation; set-up ends here."""
        if self.first_timed is None:
            self.first_timed = time.time()
            self.setup_gen_s = self.gen_s


@dataclass
class Result:
    """What a workload hands back: end-to-end values (the generic names
    of BENCHMARK.json), the workload's own metric names for the detail
    line, operation counts (a failing operation raises and ends the run,
    so ``failed`` stays 0 in any run that prints a result), per-layer
    counters and the output checks (name -> (ok, detail))."""

    full_build_s: float = 0.0
    batch_s: list[float] = field(default_factory=list)
    batch_cpu_s: list[float] = field(default_factory=list)
    rows: int = 0
    bytes_stored: int = 0
    source_bytes: int = 1
    attempted: int = 0
    failed: int = 0
    detail: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    checks: dict = field(default_factory=dict)

    def end_to_end(self) -> dict[str, float]:
        busy = sum(self.batch_s)
        return {
            "full_build_s": self.full_build_s,
            "batch_s_p50": statistics.median(self.batch_s),
            "batch_cpu_s_p50": statistics.median(self.batch_cpu_s),
            "rows_per_s": self.rows / busy if busy > 0 else 0.0,
            "bytes_stored_per_source_byte": self.bytes_stored / max(1, self.source_bytes),
        }


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it (from /proc)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue  # exited while we looked
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live descendant
    (the Spark JVM and its Python workers), including children they have
    already reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0.0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15]) / tick  # utime stime cutime cstime
    return total


def dir_stats(path: str, suffix: str = "", since: float | None = None) -> tuple[int, int]:
    """(files, bytes) under ``path``; only files ending in ``suffix`` and,
    with ``since``, only files modified at or after that time."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.endswith(suffix):
                continue
            st = os.stat(os.path.join(root, n))
            if since is not None and st.st_mtime < since:
                continue
            files += 1
            size += st.st_size
    return files, size


def _canon(v):
    if v is None:
        return ("0null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, (int, float)):
        f = float(v)
        return ("nan",) if math.isnan(f) else ("f", repr(f))
    return ("s", str(v))


def rowset(cols: list[str], rows) -> list[tuple]:
    """Order-insensitive canonical form: columns by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def compare(name: str, got_cols, got_rows, want_cols, want_rows) -> tuple[bool, str]:
    """Equality of two result sets; the detail names the first difference
    or, when equal, the row count and a hash of the canonical rows."""
    if sorted(got_cols) != sorted(want_cols):
        return False, f"{name}: columns {sorted(got_cols)} != {sorted(want_cols)}"
    a, b = rowset(list(got_cols), got_rows), rowset(list(want_cols), want_rows)
    if len(a) != len(b):
        return False, f"{name}: rows {len(a)} != {len(b)}"
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return False, f"{name}: first difference at sorted row {i}: {x} != {y}"
    digest = hashlib.sha256(repr(a).encode()).hexdigest()[:16]
    return True, f"{name}: {len(a)} rows, sha256 {digest}"
