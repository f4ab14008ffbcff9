"""The benchmark's workloads. Each one generates its inputs from the
seed, registers them, warms up, then runs timed operations in a closed
loop (one client; the next operation starts when the previous one
returns) and checks every output.

- ``pxl_interactive``: a rotation of five PxL scripts on a small,
  4-file time-ordered ``http_events``, windows alternating between full (-60m) and narrow
  (-5m) from one script to the next. One operation = one script run
  plus collecting its result.
- ``pxl_stream``: ``StreamingScriptRun`` draining a laid-out backlog of
  ``http_events`` chunks through the request-stats script. One
  operation = one micro-batch refresh.
- ``corpus_dedup``: exact dedup, MinHash-LSH with verification (16
  bands of 4 rows) and connected components over a corpus with planted
  duplicates. One operation = one pass collecting the components. The
  Gopher quality stage of ``clean_corpus`` is timed once per traced run,
  outside the operations.

In a traced run every other operation (every other rotation of scripts,
for the PxL workloads) records spans around its calls into the program;
the ratio of the two halves' median latency is the tracing overhead.
"""

from __future__ import annotations

import os
import time
import traceback
from contextlib import contextmanager, nullcontext

import numpy as np

import gen
import scripts
import sparkstats
from stats import OpLog, Tracer

PXL_HTTP_ROWS, PXL_HTTP_FILES, PXL_ROW_GROUP = 100_000, 4, 8_192
PXL_CONNS = 100
WARM_ROTATIONS = 2
STREAM_ROWS = 72_000
STREAM_CHUNKS = 10
STREAM_TIMEOUT_S = 150.0
WARM_CHUNKS = 2
CORPUS_BASE, CORPUS_EXACT, CORPUS_NEAR = 450, 50, 50
CORPUS_WORDS, CORPUS_EDITS = 100, 4
SHINGLE_N, NUM_HASHES, BANDS, VERIFY_THRESHOLD = 5, 64, 16, 0.5
MIN_WORDS = 50  # Gopher minimum; every generated doc has CORPUS_WORDS
NEAR_RECALL_FLOOR = 0.9


def _error(exc: BaseException) -> str:
    traceback.print_exception(exc)
    return f"{type(exc).__name__}: {exc}"


class Workload:
    """Shared life cycle; subclasses fill in the four hooks."""

    name = ""

    def __init__(self, tracer: Tracer, data_dir: str, work_dir: str):
        self.tracer = tracer
        self.data = data_dir
        self.work = work_dir
        self.spark = None
        self.layer: dict = {}  # per-layer readings
        self.groups: set[str] = set()  # job groups of timed operations
        self.traced_ops: list[bool] = []  # per timed operation

    def generate(self, rng: np.random.Generator) -> dict[str, tuple[int, int]]:
        """Write the inputs; return table -> (rows, bytes)."""
        raise NotImplementedError

    def register(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def measure(self, seconds: float, log: OpLog, trace: bool) -> None:
        raise NotImplementedError

    def _job_group(self, op: int | None) -> str:
        """Tag the jobs of operation ``op`` (None: the warm-up, which is
        not a timed operation)."""
        group = f"{self.name}-{'warmup' if op is None else f'op{op}'}"
        self.spark.sparkContext.setJobGroup(group, group)
        if op is not None:
            self.groups.add(group)
        return group

    def _load(self, name: str):
        from pixie_spark.sources import load_table

        return load_table(self.spark, self.data, name)

    def _path(self, table: str) -> str:
        return os.path.join(self.data, f"{table}.parquet")


class OpLoop(Workload):
    """Timed operations in whole rotations of ``rotation_len``, so every
    run weighs each operation kind alike. A traced run traces every
    other rotation and reads each operation's job, stage and task counts
    from the status tracker right after it returns."""

    rotation_len = 1

    def run_op(self, op: int | None, traced: bool) -> tuple[float, int, str | None]:
        """Run operation ``op``; return (latency, input rows, error)."""
        raise NotImplementedError

    def measure(self, seconds, log, trace):
        n = self.rotation_len
        t_end = time.perf_counter() + seconds
        op = 0
        while op < (2 * n if trace else n) or op % n or time.perf_counter() < t_end:
            traced = trace and (op // n) % 2 == 1
            group = self._job_group(op)
            log.record(*self.run_op(op, traced))
            self.traced_ops.append(traced)
            if trace:
                self.layer.setdefault("exec", []).append(
                    sparkstats.job_group_counts(self.spark, group)
                )
            op += 1


@contextmanager
def _traced_compile(tracer: Tracer):
    """Span every ``compile_pxl`` call made inside the block; run_script
    looks the compiler up on its module at each call."""
    import pixie_spark.api.pxl as pxl

    real = pxl.compile_pxl

    def compile_pxl(*a, **kw):
        with tracer.span("api.compile_pxl"):
            return real(*a, **kw)

    pxl.compile_pxl = compile_pxl
    try:
        yield
    finally:
        pxl.compile_pxl = real


class PxlInteractive(OpLoop):
    name = "pxl_interactive"
    windows = ("-60m", "-5m")

    def generate(self, rng):
        k8s = gen.k8s_dims(rng)
        http, http_ref = gen.http_events(rng, k8s, PXL_HTTP_ROWS)
        conn, conn_ref = gen.conn_stats(rng, k8s, PXL_CONNS)
        sizes = {
            "k8s_pods": (k8s.pods.num_rows, gen.write(k8s.pods, self._path("k8s_pods"))),
            "k8s_services": (
                k8s.services.num_rows, gen.write(k8s.services, self._path("k8s_services"))
            ),
            "http_events": (
                http.num_rows,
                gen.write(http, self._path("http_events"), PXL_HTTP_FILES, PXL_ROW_GROUP),
            ),
            "conn_stats": (conn.num_rows, gen.write(conn, self._path("conn_stats"))),
        }
        # (script, source, reference answer, in-window input rows)
        self.rotation = []
        for i, s in enumerate(scripts.SCRIPTS):
            window = self.windows[i % len(self.windows)]
            lo = gen.NOW_NS + int(window[:-1]) * gen.MIN_NS
            ref = http_ref if s.table == "http_events" else conn_ref
            rows = int((ref.time_.values >= lo).sum())
            self.rotation.append((s, s.pxl.format(start=window), s.expect(ref, lo), rows))
        self.rotation_len = len(self.rotation)
        return sizes

    def register(self):
        bind_pxl(self.spark, self._load, ["http_events", "conn_stats"])

    def run_op(self, op, traced):
        import pixie_spark.api as px

        script, source, want, rows_in = self.rotation[op % self.rotation_len]
        tr = self.tracer if traced else _OFF
        t0 = time.perf_counter()
        try:
            with tr.span("op", op):
                with _traced_compile(tr) if traced else nullcontext():
                    with tr.span("api.run_script"):
                        out = px.run_script(source)
                frame = out[script.name]
                with tr.span("api.collect"):
                    rows = frame.collect()
            latency = time.perf_counter() - t0
            error = script.check([r.asDict() for r in rows], want)
        except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
            return time.perf_counter() - t0, rows_in, _error(e)
        if traced:
            self._scan_stats(frame, rows_in)
        return latency, rows_in, error

    def _scan_stats(self, frame, rows_in: int) -> None:
        from pixie_spark.plans.analyze import summarize_execution

        s = summarize_execution(frame, execute=False).first()
        self.layer["rows_scanned"] = self.layer.get("rows_scanned", 0) + s.rows_processed
        self.layer["bytes_scanned"] = self.layer.get("bytes_scanned", 0) + s.bytes_processed
        self.layer["rows_in_window"] = self.layer.get("rows_in_window", 0) + rows_in
        self.layer["scan_ops"] = self.layer.get("scan_ops", 0) + 1

    def warm_up(self):
        # whole rotations, so no first compile lands in a timed operation
        # and the JIT has settled (a single rotation left the next one
        # ~20% slower than the one after it)
        self._job_group(None)
        for i in range(WARM_ROTATIONS * self.rotation_len):
            _, _, error = self.run_op(i, False)
            if error:
                raise RuntimeError(f"warm-up operation {i} failed: {error}")


def bind_pxl(spark, load, tables: list[str]) -> dict:
    """Bind ``tables`` and the k8s metadata as the PxL context, with
    ``px.now()`` pinned to the end of the generated data."""
    import pixie_spark.api as px
    from pixie_spark.functions.metadata import MetadataResolver

    frames = {n: load(n) for n in tables}
    px.set_context(
        spark, tables=frames, metadata=MetadataResolver(load("k8s_pods"), load("k8s_services"))
    )
    px.set_now(gen.NOW_NS)
    return frames


_OFF = Tracer(False)  # what untraced operations record spans into


class PxlStream(Workload):
    name = "pxl_stream"
    script = scripts.SCRIPTS[0]  # request_stats

    def generate(self, rng):
        k8s = gen.k8s_dims(rng)
        http, ref = gen.http_events(rng, k8s, STREAM_ROWS)
        self.want = self.script.expect(ref, gen.NOW_NS - 60 * gen.MIN_NS)
        self.rows = http.num_rows
        self.source = self.script.pxl.format(start="-60m")
        return {
            "k8s_pods": (k8s.pods.num_rows, gen.write(k8s.pods, self._path("k8s_pods"))),
            "k8s_services": (
                k8s.services.num_rows, gen.write(k8s.services, self._path("k8s_services"))
            ),
            "http_events": (http.num_rows, gen.write(http, self._path("http_events"))),
        }

    def register(self):
        self.frames = bind_pxl(self.spark, self._load, ["http_events"])

    def warm_up(self):
        import pixie_spark.api as px
        from pixie_spark.streaming.script_stream import StreamingScriptRun

        # a short drain of its own: the batch write, snapshot read and
        # refresh paths every timed micro-batch repeats
        self._job_group(None)
        try:
            StreamingScriptRun(
                self.spark, self.source,
                stream_tables={"http_events": self.frames["http_events"]},
                static_tables={}, work_dir=os.path.join(self.work, "warm"), chunks=WARM_CHUNKS,
            ).await_drained()
        finally:
            px.register_table("http_events", self.frames["http_events"])

    def measure(self, seconds, log, trace):
        # the backlog is fixed work: the run lasts until it drains
        import pixie_spark.api as px
        from pixie_spark.streaming.script_stream import StreamingScriptRun

        refreshed: list[float] = []
        script_spans: list[tuple[int, float, float]] = []  # (refresh, start, end)
        real_run_script = px.run_script

        def traced_run_script(*a, **kw):
            t0 = time.perf_counter()
            try:
                return real_run_script(*a, **kw)
            finally:
                script_spans.append((len(refreshed), t0, time.perf_counter()))

        def on_refresh(_results) -> None:
            refreshed.append(time.perf_counter())
            if trace:
                # odd refreshes are traced; the refresh looks run_script
                # up on the module each time
                odd = len(refreshed) % 2 == 1
                px.run_script = traced_run_script if odd else real_run_script

        work = os.path.join(self.work, "stream")
        errors = []
        try:
            t0 = time.perf_counter()
            run = StreamingScriptRun(
                self.spark, self.source,
                stream_tables={"http_events": self.frames["http_events"]},
                static_tables={}, work_dir=work, chunks=STREAM_CHUNKS, on_refresh=on_refresh,
            )
            started = time.perf_counter()
            queries = list(self.spark.streams.active)
            deadline = started + STREAM_TIMEOUT_S
            while (
                len(refreshed) < STREAM_CHUNKS and not run.refresh_errors
                and time.perf_counter() < deadline
            ):
                time.sleep(0.01)
            try:
                run.await_drained()
            except Exception as e:  # noqa: BLE001 — counted as a failed refresh
                errors.append(_error(e))
        finally:
            px.run_script = real_run_script
            # restore the full batch table the refreshes replaced
            px.register_table("http_events", self.frames["http_events"])

        if len(refreshed) != STREAM_CHUNKS:
            errors.append(f"{len(refreshed)} refreshes for {STREAM_CHUNKS} chunks")
        final = [r.asDict() for r in run.results.get(self.script.name, [])]
        errors.append(self.script.check(final, self.want))
        batch = [r.asDict() for r in px.run_script(self.source)[self.script.name].collect()]
        if sorted(map(_key, final)) != sorted(map(_key, batch)):
            errors.append("final refresh differs from a batch run over the full table")
        error = "; ".join(e for e in errors if e) or None
        gaps = np.diff([started] + refreshed).tolist() or [time.perf_counter() - started]
        for i, gap in enumerate(gaps):
            log.record(gap, 0, error if i == len(gaps) - 1 else None)
        log.rows = self.rows
        self.traced_ops = [trace and i % 2 == 1 for i in range(len(gaps))]

        self.layer["layout_s"] = started - t0
        self.layer["gaps"] = gaps
        self.layer["run_script"] = [b - a for _, a, b in script_spans]
        self.layer["progress"] = [p for q in queries for p in q.recentProgress if p.numInputRows]
        self.layer["snapshot_files"] = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(os.path.join(work, "accum")) for f in fs
        )
        # the micro-batch jobs run under each query's run id; few enough
        # for the status tracker to still hold them all
        self.groups |= {str(q.runId) for q in queries}
        if trace:
            self.layer["exec"] = [
                sparkstats.job_group_counts(self.spark, g) for g in sorted(self.groups)
            ]
        bounds = [started] + refreshed
        for i in range(1, len(refreshed), 2) if trace else ():
            parent = len(self.tracer.spans)
            self.tracer.add("streaming.refresh", bounds[i], bounds[i + 1], op=i)
            for _, a, b in (s for s in script_spans if s[0] == i):
                self.tracer.add("api.run_script", a, b, op=i, parent=parent)


def _key(row: dict) -> tuple:
    return tuple(sorted(row.items()))


class CorpusDedup(OpLoop):
    name = "corpus_dedup"

    def generate(self, rng):
        self.corpus = gen.corpus(
            rng, CORPUS_BASE, CORPUS_EXACT, CORPUS_NEAR, CORPUS_WORDS, CORPUS_EDITS
        )
        t = self.corpus.table
        self.rows = t.num_rows
        return {"docs": (t.num_rows, gen.write(t, self._path("docs")))}

    def register(self):
        self.docs = self._load("docs")

    def _after_exact(self, docs):
        from pyspark.sql import functions as F

        from pixie_spark.operators.dedup import exact_dedup

        groups = exact_dedup(docs, "doc_id", ["text"])
        keep = groups.select(F.col("keep_id").alias("doc_id"))
        removed = groups.agg(F.sum(F.col("dup_count") - 1).alias("removed"))
        return docs.join(keep, "doc_id", "left_semi"), removed

    def _verified(self, docs):
        from pixie_spark.operators.dedup import minhash_lsh_verified_pairs

        return minhash_lsh_verified_pairs(
            docs, "doc_id", "text", n=SHINGLE_N, num_hashes=NUM_HASHES, bands=BANDS,
            threshold=VERIFY_THRESHOLD,
        )

    def _pass(self) -> tuple[int, list]:
        from pixie_spark.operators.clustering import connected_components

        after_exact, removed = self._after_exact(self.docs)
        comps = connected_components(self._verified(after_exact)).collect()
        return removed.first().removed, comps

    def _traced_pass(self) -> tuple[int, list]:
        """The same pass with every stage forced on its own (an eager
        lineage cut or a noop write), so each stage's span holds that
        stage's work."""
        from pixie_spark.materialize import materialize
        from pixie_spark.operators.clustering import connected_components
        from pixie_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures

        tr = self.tracer
        with tr.span("operators.exact_dedup"):
            after_exact, removed = self._after_exact(self.docs)
            after_exact = materialize(after_exact)
            removed = removed.first().removed
        with tr.span("operators.minhash_signatures"):
            minhash_signatures(after_exact, "doc_id", "text", SHINGLE_N, NUM_HASHES).write.format(
                "noop"
            ).mode("overwrite").save()
        with tr.span("operators.lsh_candidates"):
            # threshold 0 keeps every banded candidate, before verification
            candidates = minhash_lsh_pairs(
                after_exact, "doc_id", "text", SHINGLE_N, NUM_HASHES, BANDS, threshold=0.0
            ).count()
        with tr.span("operators.lsh_verify"):
            pairs = materialize(self._verified(after_exact))
            verified = pairs.count()
        with tr.span("operators.components"):
            comps = connected_components(pairs).collect()
        self.layer.setdefault("candidates", []).append(candidates)
        self.layer.setdefault("verified", []).append(verified)
        return removed, comps

    def _check(self, removed: int, comps: list) -> str | None:
        if removed != self.corpus.exact_dups:
            return f"exact dedup removed {removed}, planted {self.corpus.exact_dups}"
        comp = {r.node: r.component for r in comps}
        partner = {}
        for a, b in self.corpus.near_pairs:
            partner[a], partner[b] = b, a
        stray = [n for n in comp if n not in partner or comp[partner[n]] != comp[n]]
        if stray:
            return f"docs clustered with a doc that is not their planted copy: {stray[:3]}"
        found = sum(1 for a, b in self.corpus.near_pairs if a in comp) / len(self.corpus.near_pairs)
        if found < NEAR_RECALL_FLOOR:
            return f"near-duplicate recall {found:.3f} below {NEAR_RECALL_FLOOR}"
        return None

    def run_op(self, op, traced):
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span("op", op):
                    result = self._traced_pass()
            else:
                result = self._pass()
            latency = time.perf_counter() - t0
            return latency, self.rows, self._check(*result)
        except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
            return time.perf_counter() - t0, self.rows, _error(e)

    def warm_up(self):
        self._job_group(None)
        _, _, error = self.run_op(None, False)
        if error:
            raise RuntimeError(f"warm-up pass failed: {error}")

    def measure(self, seconds, log, trace):
        super().measure(seconds, log, trace)
        if trace:
            from pixie_spark.operators.pipeline import clean_corpus

            # the Gopher quality stage, forced once after the loop; it
            # is kept out of the timed pass (see README.md)
            after_quality = clean_corpus(self.docs, min_words=MIN_WORDS, shingle_n=SHINGLE_N)[
                "after_quality"
            ]
            with self.tracer.span("operators.clean"):
                after_quality.write.format("noop").mode("overwrite").save()


WORKLOADS = {w.name: w for w in (PxlInteractive, PxlStream, CorpusDedup)}
