"""In-memory spans around the benchmark's calls into each layer.

A span records its name, start, end, parent and run id, plus the stage
totals of the status-store bracket it opened (when given a probe). Spans are
written out once, when the run ends; a span's self time is its duration
minus the part of it that its children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from probe import StageProbe, StageTotals


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    stages: StageTotals | None = None  # None: no probe, or unreadable store

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def totals(self) -> StageTotals:
        """The bracket's stage totals. Unknown is not zero: when the status
        store could not be read this raises, so no layer reports a zero it
        did not measure."""
        if self.stages is None:
            raise RuntimeError(f"span {self.name!r}: stage totals unknown "
                               "(status store unreadable)")
        return self.stages


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, probe: StageProbe | None = None):
        """Yield the open span; with a probe, its stage totals are filled in
        on close (``None`` when the status store could not be read)."""
        mark = probe.mark() if probe is not None else None
        s = Span(
            id=len(self.spans),
            name=name,
            parent=self._open[-1] if self._open else None,
            run_id=self.run_id,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._open.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            if probe is not None:
                s.stages = probe.since(mark)

    def self_times(self) -> dict[int, float]:
        """Span id → its duration minus the union of its children's."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, reach = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, reach), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s.id] = s.seconds - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        self_times = self.self_times()
        origin = self.spans[0].start if self.spans else 0.0
        records = []
        for s in self.spans:
            r = asdict(s)
            r["start"] = s.start - origin
            r["end"] = s.end - origin
            r["self_s"] = self_times[s.id]
            records.append(r)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, **extra, "spans": records}, fh, indent=1)
