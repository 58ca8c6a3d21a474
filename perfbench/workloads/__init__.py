"""One module per workload; each exposes ``run(ctx) -> Outcome``."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0  # workload set-up after session start
    # end-to-end metrics under the workload's own names (see README.md)
    e2e: dict = field(default_factory=dict)
    # the contract's generic end-to-end metrics: throughput_per_s,
    # latency_p50_ms, latency_tail_ms
    generic: dict = field(default_factory=dict)
    # the same three, from the timed phase repeated with tracing on
    traced_generic: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok
