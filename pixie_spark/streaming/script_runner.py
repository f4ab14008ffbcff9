"""Cron-scheduled PxL script runner — entry point 4 of SURVEY §3, the
Spark analogue of the reference's query-broker script runner
(src/vizier/services/query_broker/script_runner/script_runner.go:66-401).

Reference semantics re-expressed:

- Registered cron scripts execute every ``frequency_s`` seconds (a
  ticker: the FIRST run happens one period after registration, not
  immediately — script_runner.go:374-381).
- Each run covers the plugin window ``[last_run - 1s, last_run - 1s +
  period]`` — the deliberate 1 s overlap "to cover collector latency …
  which can cause data overlaps or cause data to be missed"
  (script_runner.go:266-268); scripts read it via ``px.plugin.start_time``
  / ``px.plugin.end_time``.
- Scripts arrive from pluggable Sources (cloud_source.go /
  config_map_source.go) which emit upsert/delete updates; the runner map
  tracks one schedule per script id (upsertScript/deleteScript).
- Every execution outcome — success or compile/run error — is recorded
  (RecordExecutionResult) and queryable via ``px.GetCronScriptHistory()``.

Spark-first design difference: the reference spins a goroutine + ticker
per script; here the schedule is DATA, not threads — ``tick(now_ns)``
runs everything due at a supplied clock reading. That makes the runner
deterministic under test, driveable by any external scheduler (Airflow
tick, Structured Streaming trigger, cron), and safe to backfill (replay
missed windows by ticking a synthetic clock forward). ``serve()`` wraps
tick with wall-clock sleep for the daemon case.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Callable, Iterable, Optional

SECOND_NS = 1_000_000_000
_OVERLAP_NS = SECOND_NS  # the reference's 1 s window overlap


@dataclass
class CronScript:
    """A registered script (cvmsgspb.CronScript analogue): PxL text plus
    schedule; ``calls`` supplies (function, args) pairs for
    function-style scripts (the vis.json execution model)."""

    script_id: str
    script: str
    frequency_s: int
    calls: Optional[list[tuple[str, dict]]] = None
    configs: dict = field(default_factory=dict)  # e.g. {"otel_endpoint": {...}}
    enabled: bool = True


@dataclass
class ExecutionRecord:
    """Outcome of one scheduled run (RecordExecutionResult analogue)."""

    script_id: str
    run_ns: int  # tick time the run fired at
    window_start_ns: int
    window_end_ns: int
    error: str = ""  # empty → success
    result_rows: dict[str, int] = field(default_factory=dict)

    @property
    def success(self) -> bool:
        return not self.error


class StaticSource:
    """In-memory Source — the test/cloud-push analogue: updates are fed
    programmatically via push_upsert/push_delete."""

    def __init__(self, scripts: Iterable[CronScript] = ()):
        self._initial = {s.script_id: s for s in scripts}
        self._pending: list[tuple[str, object]] = []

    def initial(self) -> dict[str, CronScript]:
        return dict(self._initial)

    def push_upsert(self, script: CronScript) -> None:
        self._pending.append(("upsert", script))

    def push_delete(self, script_id: str) -> None:
        self._pending.append(("delete", script_id))

    def poll(self) -> list[tuple[str, object]]:
        out, self._pending = self._pending, []
        return out


class ScriptDirSource:
    """Directory-of-scripts Source (config_map_source.go analogue): every
    ``<name>.pxl`` in the directory is a cron script; ``poll()`` re-reads
    and diff-emits upserts (new/changed text or schedule) and deletes
    (file removed) — exactly the configmap watch semantics, minus the
    k8s API. Frequency comes from a ``# cron: <seconds>`` header line
    (default 60)."""

    def __init__(self, path: str, default_frequency_s: int = 60):
        self.path = path
        self.default_frequency_s = default_frequency_s
        self._seen: dict[str, CronScript] = {}

    def _read_all(self) -> dict[str, CronScript]:
        out: dict[str, CronScript] = {}
        if not os.path.isdir(self.path):
            return out
        for fn in sorted(os.listdir(self.path)):
            if not fn.endswith(".pxl"):
                continue
            sid = fn[: -len(".pxl")]
            with open(os.path.join(self.path, fn)) as f:
                text = f.read()
            freq = self.default_frequency_s
            for line in text.splitlines()[:5]:
                if line.strip().startswith("# cron:"):
                    freq = int(line.split(":", 1)[1].strip())
                    break
            out[sid] = CronScript(script_id=sid, script=text, frequency_s=freq)
        return out

    def initial(self) -> dict[str, CronScript]:
        self._seen = self._read_all()
        return dict(self._seen)

    def poll(self) -> list[tuple[str, object]]:
        now = self._read_all()
        updates: list[tuple[str, object]] = []
        for sid, script in now.items():
            old = self._seen.get(sid)
            if old is None or (old.script, old.frequency_s) != (script.script, script.frequency_s):
                updates.append(("upsert", script))
        for sid in self._seen:
            if sid not in now:
                updates.append(("delete", sid))
        self._seen = now
        return updates


class ScriptRunner:
    """Tracks registered cron scripts and runs them on schedule
    (ScriptRunner + per-script runner, script_runner.go:66-401).

    ``on_result(script, results_dict, record)`` receives each successful
    run's named DataFrames — wire it to ``px.export(df,
    px.otel.Data(...))`` for the reference's export behavior, or to any
    writer.
    """

    def __init__(
        self,
        sources: Iterable[object] = (),
        on_result: Optional[Callable[[CronScript, dict, ExecutionRecord], None]] = None,
    ):
        self.sources = list(sources)
        self.on_result = on_result
        self._scripts: dict[str, CronScript] = {}
        self._next_run_ns: dict[str, int] = {}
        self._last_run_ns: dict[str, int] = {}
        self.history: list[ExecutionRecord] = []

    # -- registration (upsertScript/deleteScript, :154-175) ---------------

    def sync(self, now_ns: Optional[int] = None) -> None:
        """SyncScripts: pull every source's initial set (:120-132)."""
        now_ns = time.time_ns() if now_ns is None else now_ns
        for src in self.sources:
            for script in src.initial().values():
                self.upsert(script, now_ns)

    def poll_sources(self, now_ns: Optional[int] = None) -> None:
        """Drain source updates (processUpdates, :134-152)."""
        now_ns = time.time_ns() if now_ns is None else now_ns
        for src in self.sources:
            for kind, payload in src.poll():
                if kind == "upsert":
                    self.upsert(payload, now_ns)
                else:
                    self.delete(payload)

    def upsert(self, script: CronScript, now_ns: Optional[int] = None) -> None:
        now_ns = time.time_ns() if now_ns is None else now_ns
        self._scripts[script.script_id] = script
        # ticker semantics: first fire one period AFTER registration
        if script.frequency_s > 0 and script.enabled:
            self._last_run_ns[script.script_id] = now_ns
            self._next_run_ns[script.script_id] = now_ns + script.frequency_s * SECOND_NS
        else:
            self._next_run_ns.pop(script.script_id, None)

    def delete(self, script_id: str) -> None:
        self._scripts.pop(script_id, None)
        self._next_run_ns.pop(script_id, None)
        self._last_run_ns.pop(script_id, None)

    # -- schedule ----------------------------------------------------------

    def due(self, now_ns: int) -> list[CronScript]:
        return [
            self._scripts[sid]
            for sid, t in sorted(self._next_run_ns.items())
            if now_ns >= t
        ]

    def tick(self, now_ns: Optional[int] = None) -> list[ExecutionRecord]:
        """Run everything due at ``now_ns``; returns this tick's records."""
        now_ns = time.time_ns() if now_ns is None else now_ns
        self.poll_sources(now_ns)
        records = []
        for script in self.due(now_ns):
            records.append(self._run_one(script, now_ns))
        return records

    def _run_one(self, script: CronScript, now_ns: int) -> ExecutionRecord:
        import pixie_spark.api as px

        period_ns = script.frequency_s * SECOND_NS
        # window = [lastRun - 1s, lastRun - 1s + period] (:266-269)
        start_ns = self._last_run_ns.get(script.script_id, now_ns) - _OVERLAP_NS
        end_ns = start_ns + period_ns
        self._last_run_ns[script.script_id] = now_ns
        self._next_run_ns[script.script_id] = now_ns + period_ns

        rec = ExecutionRecord(
            script_id=script.script_id,
            run_ns=now_ns,
            window_start_ns=start_ns,
            window_end_ns=end_ns,
        )
        px.set_plugin_window(start_ns, end_ns)
        # plugin-config default OTel endpoint (script_runner.go:255-263):
        # px.export calls without an explicit endpoint go here
        otel_cfg = script.configs.get("otel_endpoint")
        if otel_cfg:
            px.set_otel_endpoint(px.otel.Endpoint(**otel_cfg))
        saved_now = px.timemod._now_override
        px.set_now(now_ns)
        try:
            out = px.run_script(script.script, calls=script.calls)
            rec.result_rows = {name: df.count() for name, df in out.items()}
            if self.on_result is not None:
                self.on_result(script, out, rec)
        except Exception as e:  # noqa: BLE001 — recorded, like the
            # reference's RecordExecutionResult error path (:296-320)
            rec.error = f"{type(e).__name__}: {e}"
        finally:
            px.set_plugin_window(None)
            if otel_cfg:
                px.set_otel_endpoint(None)
            px.set_now(saved_now)
        self.history.append(rec)
        return rec

    # -- daemon loop -------------------------------------------------------

    def serve(self, poll_interval_s: float = 1.0, max_ticks: Optional[int] = None) -> None:
        """Wall-clock loop around tick() — the goroutine-ticker analogue.
        ``max_ticks`` bounds the loop for tests/smoke runs."""
        n = 0
        while max_ticks is None or n < max_ticks:
            self.tick(time.time_ns())
            time.sleep(poll_interval_s)
            n += 1
