"""Property-based fuzz harness for the PxL facade (round-5 review #8).

The 96 registry queries and 25 fixed error cases pin KNOWN shapes; this
is the generative complement: a seeded generator emits random small PxL
scripts (projection → filters/assignments in random order → optional
groupby-aggregate) TOGETHER with the equivalent DuckDB SQL derived from
the same AST, runs the script through the real px.run_script facade,
and cross-checks the results through the SAME comparator the driver
gate uses (tools/check_oracle.compare_frames: columns, dtype kinds,
order-insensitive normalized values).

Domain discipline keeps every variant exactly comparable:
- arithmetic only over int64 columns (exact in both engines; no
  float-fold order sensitivity),
- float columns appear only in comparisons against literals (same
  parquet doubles on both sides),
- sums cast to BIGINT on the DuckDB side (sum(BIGINT) is HUGEINT),
- the epoch-µs time column feeds only rolling()/group keys/min/max,
  never sum/mean (a 60k-row sum of ~1.7e15 µs epochs overflows int64
  on the Spark side where DuckDB would widen to HUGEINT),
- head()/limit only in the dedicated tier below, compared by ROW COUNT
  alone (the head contract: which rows is order-dependent by design).

300 variants + a 60-variant head tier, fixed seeds — failures reproduce
byte-for-byte and the assert message carries the full script + SQL.
Round-6 verdict #4 families: rolling() time-bins (rolling_ir.h:44-57
semantics via the px facade), two-table merges (events x docs on a
synthetic fk), and the head tier — each asserted to fire >=20 times.
Round-7 verdict #7 families: df.append(df2) with FILTERED + column-
PERMUTED right sides (the reference Union's per-input column
realignment, union_node.cc:172-287 — the SQL side models the
semantics in canonical order, so any misalignment garbles values and
fails the comparator) and ctx['service']-style metadata accessors over
a synthetic two-hop dim chain with genuine misses at both hops — each
asserted to fire >=20 times.
Round-8 verdict #7 families: rolling() composed ONTO merge/append
outputs (the bin rewrite must land on the realigned/joined frame, and
the implicit window key must survive into the next agg) and a
top-n-per-group shape — the with-ties argmax (rank 1) expressed as
agg(max) + join-back + equality filter, which is the deterministic,
SQL-replicable core of the window_rank family and exercises the
rolled-groupby implicit-key injection inside a self-join — each
asserted to fire >=20 times.
"""

import os
import random

import pixie_spark.api as px
import pytest
from pyspark.sql import functions as F
from pixie_spark.functions.metadata import MetadataResolver
from pixie_spark.sources import load_table
from tools.check_oracle import compare_frames, oracle_connection

SF_DIR = "/root/testdata/sf0.001"
# The committed tier is 300 variants at seed 2026; the env overrides
# exist for the per-round second-seed probe (fresh variants proving the
# tier isn't seed-lucky) — op-mix thresholds scale with the tier size.
N_VARIANTS = int(os.environ.get("PXL_FUZZ_VARIANTS", "300"))
FUZZ_SEED = int(os.environ.get("PXL_FUZZ_SEED", "2026"))
_F = N_VARIANTS / 300

# synthetic metadata dims for the ctx[...] family: pods 0..19 map to
# service_id = pod_id % 8, services name only 0..5 — so pod_ids >= 20
# miss hop 1 and service_ids 6..7 miss hop 2 (both misses must coalesce
# to '' — reference metadata-UDF parity, metadata_ops.h:112)
FUZZ_PODS = [(i, i % 8) for i in range(20)]
FUZZ_SERVICES = [(i, f"svc-{i}") for i in range(6)]


def _fuzz_resolver(spark) -> MetadataResolver:
    pods = spark.createDataFrame(FUZZ_PODS, "pod_id long, service_id long")
    services = spark.createDataFrame(
        FUZZ_SERVICES, "service_id long, service_name string"
    )
    return MetadataResolver(pods, services)

INT_COLS = ["event_id", "user_id"]
FLOAT_COLS = ["value"]
STR_COLS = ["event_type"]
TIME_COL = "ts_us"  # epoch µs — rolling()/keys/min/max only (no sums)
BASE_COLS = INT_COLS + FLOAT_COLS + STR_COLS
EVENT_TYPES = ["click", "error", "purchase", "signup", "view", "no_such_type"]

# (px fn name, sql template, needs int input)
AGG_FNS = [
    ("px.count", "CAST(count({c}) AS BIGINT)"),
    ("px.sum", "CAST(sum({c}) AS BIGINT)"),
    ("px.min", "min({c})"),
    ("px.max", "max({c})"),
    ("px.mean", "avg({c})"),
]


def _fuzz_tables(spark):
    ev = (
        load_table(spark, SF_DIR, "events")
        .withColumn(TIME_COL, F.expr("ts DIV 1000"))
        .select(*BASE_COLS, TIME_COL)
    )
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    return ev, docs


@pytest.fixture(scope="module")
def fuzz_ctx(spark):
    ev, docs = _fuzz_tables(spark)
    px.set_context(
        spark, tables={"events": ev, "docs": docs}, metadata=_fuzz_resolver(spark)
    )
    con = oracle_connection(SF_DIR)
    con.execute("CREATE VIEW docs AS SELECT doc_id, lang FROM documents")
    con.execute(
        "CREATE TABLE fuzz_pods(pod_id BIGINT, service_id BIGINT)"
    )
    con.executemany("INSERT INTO fuzz_pods VALUES (?, ?)", FUZZ_PODS)
    con.execute(
        "CREATE TABLE fuzz_services(service_id BIGINT, service_name VARCHAR)"
    )
    con.executemany("INSERT INTO fuzz_services VALUES (?, ?)", FUZZ_SERVICES)
    yield con
    con.close()


class _Gen:
    """One random script+SQL pair from a shared op sequence."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.int_cols = list(INT_COLS)  # grows with derived columns
        self.str_cols = list(STR_COLS)
        # full column SET in frame order — append() permutes a copy of
        # it and the SQL UNION ALL branch re-lists it canonically
        self.cols = list(BASE_COLS) + [TIME_COL]
        self.rolled = False  # ts_us has been binned at least once
        self.lines = ["import px", "df = px.DataFrame('events')"]
        self.ctes = [
            f"q0 AS (SELECT {', '.join(BASE_COLS)}, "
            f"epoch_us(ts) AS {TIME_COL} FROM events)"
        ]
        self.step = 0

    def _next_cte(self, select_sql: str) -> None:
        prev = f"q{self.step}"
        self.step += 1
        self.ctes.append(f"q{self.step} AS (SELECT {select_sql} FROM {prev})")

    def _predicate(self) -> tuple[str, str]:
        r = self.rng
        kind = r.choice(["int", "int", "float", "str", "contains"])
        if kind == "int":
            c = r.choice(self.int_cols)
            op = r.choice([">", ">=", "<", "<=", "==", "!="])
            lit = r.randint(0, 1200)
            return f"(df['{c}'] {op} {lit})", f"({c} {'=' if op == '==' else op} {lit})"
        if kind == "float":
            c = r.choice(FLOAT_COLS)
            op = r.choice([">", "<", ">=", "<="])
            lit = round(r.uniform(0.0, 350.0), 2)
            return f"(df['{c}'] {op} {lit})", f"({c} {op} {lit})"
        if kind == "contains":
            c = r.choice(self.str_cols)
            sub = r.choice(["e", "a", "ck", "or", "x", "UP"])
            return (
                f"(px.contains(df['{c}'], '{sub}'))",
                f"contains({c}, '{sub}')",
            )
        c = r.choice(STR_COLS)
        op = r.choice(["==", "!="])
        lit = r.choice(EVENT_TYPES)
        return (
            f"(df['{c}'] {op} '{lit}')",
            f"({c} {'=' if op == '==' else '<>'} '{lit}')",
        )

    def add_filter(self) -> None:
        p_px, p_sql = self._predicate()
        if self.rng.random() < 0.3:
            q_px, q_sql = self._predicate()
            conj = self.rng.choice(["&", "|"])
            p_px = f"({p_px} {conj} {q_px})"
            p_sql = f"({p_sql} {'AND' if conj == '&' else 'OR'} {q_sql})"
        self.lines.append(f"df = df[{p_px}]")
        prev = f"q{self.step}"
        self.step += 1
        self.ctes.append(
            f"q{self.step} AS (SELECT * FROM {prev} WHERE {p_sql})"
        )

    def add_assign(self) -> None:
        r = self.rng
        a = r.choice(self.int_cols)
        op = r.choice(["+", "-", "*", "%"])
        if op != "%" and r.random() < 0.5:
            # '*' pairs only with the small user_id column (<=14):
            # chained products of derived columns could pass 2^63, where
            # Spark wraps silently and DuckDB widens to HUGEINT — an
            # engine-semantics divergence, not a bug we want to fuzz
            b = "user_id" if op == "*" else r.choice(self.int_cols)
            rhs_px, rhs_sql = f"df['{a}'] {op} df['{b}']", f"{a} {op} {b}"
        else:
            # % gets a positive literal; Spark and DuckDB both use
            # C-style sign-of-dividend semantics so negatives are safe
            lit = r.randint(2, 7) if op == "%" else r.randint(1, 7)
            rhs_px, rhs_sql = f"df['{a}'] {op} {lit}", f"{a} {op} {lit}"
        name = f"v{self.step}"
        self.lines.append(f"df['{name}'] = {rhs_px}")
        self._next_cte(f"*, CAST({rhs_sql} AS BIGINT) AS {name}")
        self.int_cols.append(name)
        self.cols.append(name)

    def add_str_assign(self) -> None:
        """Derived columns through the px string-function family
        (functions/string_ops.py): case mapping and substring yield new
        string columns (usable by later contains predicates), length
        and 0-based find yield new int columns (usable by later
        arithmetic / group keys)."""
        r = self.rng
        c = r.choice(self.str_cols)
        name = f"s{self.step}"
        kind = r.choice(["upper", "lower", "substr", "length", "find"])
        if kind in ("upper", "lower"):
            fn = "toupper" if kind == "upper" else "tolower"
            self.lines.append(f"df['{name}'] = px.{fn}(df['{c}'])")
            self._next_cte(f"*, {'upper' if kind == 'upper' else 'lower'}({c}) AS {name}")
            self.str_cols.append(name)
        elif kind == "substr":
            a, n = r.randint(0, 2), r.randint(1, 4)
            self.lines.append(f"df['{name}'] = px.substring(df['{c}'], {a}, {n})")
            self._next_cte(f"*, substring({c}, {a + 1}, {n}) AS {name}")
            self.str_cols.append(name)
        elif kind == "length":
            self.lines.append(f"df['{name}'] = px.length(df['{c}'])")
            self._next_cte(f"*, length({c}) AS {name}")
            self.int_cols.append(name)
        else:  # find: 0-based index, -1 if absent (C++ string::find)
            sub = r.choice(["e", "a", "ck", "or"])
            self.lines.append(f"df['{name}'] = px.find(df['{c}'], '{sub}')")
            self._next_cte(f"*, CAST(strpos({c}, '{sub}') - 1 AS BIGINT) AS {name}")
            self.int_cols.append(name)
        self.cols.append(name)

    def add_merge(self) -> None:
        """Self-aggregate merge: an aggregate built over a FILTERED copy
        of the current frame joined back on event_type. The filter makes
        some keys vanish from the right side, so how='left' genuinely
        produces null merge columns (and 'inner' genuinely drops rows).
        Never generated after rolling(): the window is sticky on derived
        frames, so the INNER aggregate would group per-window too and
        the joined-back frame's shape stops being SQL-replicable with a
        plain GROUP BY event_type."""
        r = self.rng
        how = r.choice(["inner", "left"])
        thresh = r.randint(0, 12)
        c = r.choice(self.int_cols)
        m = f"m{self.step}"
        self.lines.append(f"sub = df[(df['user_id'] > {thresh})]")
        self.lines.append(
            f"agg = sub.groupby('event_type').agg({m}=('{c}', 'px.sum'))"
        )
        self.lines.append(
            f"df = df.merge(agg, how='{how}', left_on='event_type', "
            f"right_on='event_type', suffixes=('', '_r'))"
        )
        prev = f"q{self.step}"
        self.step += 1
        jt = "JOIN" if how == "inner" else "LEFT JOIN"
        self.ctes.append(
            f"q{self.step} AS (SELECT l.*, r.event_type AS event_type_r, r.{m} "
            f"FROM {prev} l {jt} (SELECT event_type, CAST(sum({c}) AS BIGINT) "
            f"AS {m} FROM {prev} WHERE user_id > {thresh} GROUP BY event_type) r "
            f"ON l.event_type = r.event_type)"
        )
        self.int_cols.append(m)
        self.cols.extend(["event_type_r", m])

    def add_rolling(self) -> None:
        """Tumbling time-bin via the px rolling() facade (dataframe.h:381
        / rolling_ir.h:44-57): bins the epoch-µs time column in place —
        exactly what the reference's RollingIR lowers to — so a later
        groupby over it aggregates per window. Re-rolling at a coarser
        width is legal and both engines re-bin identically."""
        w = self.rng.choice([60, 300, 600, 1800]) * 1_000_000  # µs
        self.lines.append(f"df = df.rolling({w}, on='{TIME_COL}')")
        self._next_cte(f"* REPLACE (({TIME_COL} // {w}) * {w} AS {TIME_COL})")
        self.rolled = True

    def add_merge_docs(self) -> None:
        """TWO-TABLE merge: events joined to the docs dimension on a
        synthetic fk (event_id % K). K > max(doc_id)=499 leaves genuine
        non-matches, so how='left' produces null lang/doc_id rows and
        'inner' genuinely drops. Derived columns join the pools only on
        inner merges (null-free)."""
        r = self.rng
        how = r.choice(["inner", "left"])
        k = r.choice([200, 450, 700])
        fk = f"fk{self.step}"
        self.lines.append(f"df['{fk}'] = df['event_id'] % {k}")
        self._next_cte(f"*, CAST(event_id % {k} AS BIGINT) AS {fk}")
        self.int_cols.append(fk)
        self.cols.append(fk)
        self.lines.append("d = px.DataFrame('docs')")
        self.lines.append(
            f"df = df.merge(d, how='{how}', left_on='{fk}', "
            f"right_on='doc_id', suffixes=('', '_d'))"
        )
        prev = f"q{self.step}"
        self.step += 1
        jt = "JOIN" if how == "inner" else "LEFT JOIN"
        self.ctes.append(
            f"q{self.step} AS (SELECT l.*, r.doc_id, r.lang "
            f"FROM {prev} l {jt} docs r ON l.{fk} = r.doc_id)"
        )
        self.cols.extend(["doc_id", "lang"])
        if how == "inner":
            self.int_cols.append("doc_id")
            self.str_cols.append("lang")

    def add_append(self) -> None:
        """df.append(df2) — the reference Union with per-input column
        realignment (union_node.cc:172-287): the appended copy is
        FILTERED and its columns PERMUTED, so a positional union would
        garble values across columns; the SQL side models the append
        SEMANTICS (UNION ALL with both branches in canonical column
        order), which makes the comparator catch any misalignment."""
        r = self.rng
        p_px, p_sql = self._predicate()
        shuffled = list(self.cols)
        r.shuffle(shuffled)
        quoted = ", ".join(f"'{c}'" for c in shuffled)
        self.lines.append(f"sub = df[{p_px}]")
        self.lines.append(f"sub = sub[[{quoted}]]")
        self.lines.append("df = df.append(sub)")
        prev = f"q{self.step}"
        self.step += 1
        cols_sql = ", ".join(self.cols)
        self.ctes.append(
            f"q{self.step} AS (SELECT {cols_sql} FROM {prev} UNION ALL "
            f"SELECT {cols_sql} FROM {prev} WHERE {p_sql})"
        )

    def add_top_per_group(self) -> None:
        """Top-n-per-group (round-8 verdict #7): the WITH-TIES argmax —
        rank-1 of the window_rank family — as agg(max) + join-back +
        equality filter, deterministic in both engines (no tie-break
        order to model). When the frame is rolled, the facade injects
        the binned time column into the groupby keys automatically, so
        the join-back must key on (window, group) — exactly the
        implicit-key interaction this family exists to exercise."""
        r = self.rng
        c = r.choice(self.int_cols)
        mx = f"mx{self.step}"
        keys = [TIME_COL, "event_type"] if self.rolled else ["event_type"]
        self.lines.append(
            f"agg = df.groupby('event_type').agg({mx}=('{c}', 'px.max'))"
        )
        key_list = ", ".join(f"'{k}'" for k in keys)
        self.lines.append(
            f"df = df.merge(agg, how='inner', left_on=[{key_list}], "
            f"right_on=[{key_list}], suffixes=('', '_t'))"
        )
        self.lines.append(f"df = df[df['{c}'] == df['{mx}']]")
        prev = f"q{self.step}"
        self.step += 1
        on = " AND ".join(f"l.{k} = r.{k}" for k in keys)
        rsel = ", ".join([f"r.{k} AS {k}_t" for k in keys] + [f"r.{mx}"])
        self.ctes.append(
            f"q{self.step} AS (SELECT l.*, {rsel} FROM {prev} l JOIN "
            f"(SELECT {', '.join(keys)}, CAST(max({c}) AS BIGINT) AS {mx} "
            f"FROM {prev} GROUP BY {', '.join(keys)}) r ON {on})"
        )
        prev = f"q{self.step}"
        self.step += 1
        self.ctes.append(
            f"q{self.step} AS (SELECT * FROM {prev} WHERE {c} = {mx})"
        )
        self.cols.extend([f"{k}_t" for k in keys] + [mx])
        self.int_cols.append(mx)
        self.str_cols.append("event_type_t")

    def add_ctx(self) -> None:
        """ctx['service'] over the synthetic metadata dims (FUZZ_PODS /
        FUZZ_SERVICES): a pod_id fk derived from user_id keys the
        two-hop broadcast lookup chain pods(pod_id→service_id) →
        services(service_id→service_name), with genuine misses at both
        hops coalescing to '' (reference metadata-UDF parity,
        metadata_ops.h:112). The resolved name joins the string pool so
        later predicates/keys/appends compose over it."""
        r = self.rng
        # mod 18: all hit hop 1; 25/40: pod_ids >= 20 miss hop 1
        mod = r.choice([18, 25, 40])
        name = f"svc{self.step}"
        self.lines.append(f"df['pod_id'] = df['user_id'] % {mod}")
        self._next_cte(f"*, CAST(user_id % {mod} AS BIGINT) AS pod_id")
        self.int_cols.append("pod_id")
        self.cols.append("pod_id")
        self.lines.append(f"df['{name}'] = df.ctx['service']")
        prev = f"q{self.step}"
        self.step += 1
        self.ctes.append(
            f"q{self.step} AS (SELECT l.*, coalesce(s.service_name, '') AS {name} "
            f"FROM {prev} l "
            f"LEFT JOIN fuzz_pods p ON l.pod_id = p.pod_id "
            f"LEFT JOIN fuzz_services s ON p.service_id = s.service_id)"
        )
        self.str_cols.append(name)
        self.cols.append(name)

    def finish(self, head: int | None = None) -> tuple[str, str]:
        r = self.rng
        if head is None and r.random() < 0.5:
            # groupby-aggregate tail: none, one string key, a composite
            # (string, derived-int) key — or the binned time column when
            # rolling() fired. RollingIR semantics (rolling_ir.h:44-57 /
            # PxGroupedFrame.agg): after rolling(), the binned time col
            # joins the group keys of the next agg AUTOMATICALLY — the
            # SQL side must replicate that even when the px script never
            # names it.
            by = r.choice(
                [None, "event_type", "multi"]
                + (["window", "window"] if self.rolled else [])
            )
            n_aggs = r.randint(1, 3)
            specs, sqls = [], []
            for i in range(n_aggs):
                fn, sql_t = r.choice(AGG_FNS)
                c = r.choice(self.int_cols)
                specs.append(f"a{i}=('{c}', '{fn}')")
                sqls.append(sql_t.format(c=c) + f" AS a{i}")
            keys: list[str] = []
            if by == "event_type":
                keys = ["event_type"]
            elif by == "multi":
                keys = ["event_type", r.choice(self.int_cols)]
            elif by == "window":
                keys = (
                    [TIME_COL, "event_type"] if r.random() < 0.5 else [TIME_COL]
                )
            if not keys:
                self.lines.append(f"df = df.agg({', '.join(specs)})")
            elif len(keys) == 1:
                self.lines.append(
                    f"df = df.groupby('{keys[0]}').agg({', '.join(specs)})"
                )
            else:
                quoted = ", ".join(f"'{k}'" for k in keys)
                self.lines.append(
                    f"df = df.groupby([{quoted}]).agg({', '.join(specs)})"
                )
            # the implicit rolling key, exactly as the facade injects it
            sql_keys = keys if not self.rolled or TIME_COL in keys else (
                [TIME_COL] + keys
            )
            prev = f"q{self.step}"
            self.step += 1
            sel = ", ".join(sql_keys + sqls)
            group = f" GROUP BY {', '.join(sql_keys)}" if sql_keys else ""
            self.ctes.append(
                f"q{self.step} AS (SELECT {sel} FROM {prev}{group})"
            )
        if head is not None:
            self.lines.append(f"df = df.head({head})")
            self.lines.append("px.display(df, 'out')")
            sql = (
                "WITH " + ",\n".join(self.ctes)
                + f"\nSELECT * FROM q{self.step} LIMIT {head}"
            )
            return "\n".join(self.lines), sql
        self.lines.append("px.display(df, 'out')")
        sql = "WITH " + ",\n".join(self.ctes) + f"\nSELECT * FROM q{self.step}"
        return "\n".join(self.lines), sql


def _variant(rng: random.Random, head: int | None = None) -> tuple[str, str]:
    g = _Gen(rng)
    merged = merged2 = ctxed = topg = False
    for _ in range(rng.randint(1, 4)):
        roll = rng.random()
        if roll < 0.24:
            g.add_filter()
        elif roll < 0.38:
            g.add_assign()
        elif roll < 0.50:
            g.add_str_assign()
        elif roll < 0.58:
            g.add_rolling()
        elif roll < 0.66:
            g.add_append()
        elif roll < 0.73 and not topg:
            g.add_top_per_group()
            topg = True
        elif roll < 0.80:
            # rolling composed ONTO a merge/append output (round-8
            # verdict #7): the bin rewrite lands on the realigned/joined
            # frame, and the implicit window key must survive downstream
            if not merged2 and rng.random() < 0.5:
                g.add_merge_docs()
                merged2 = True
            else:
                g.add_append()
            g.add_rolling()
        elif roll < 0.87 and not ctxed:
            g.add_ctx()
            ctxed = True
        elif roll < 0.94 and not merged2:
            g.add_merge_docs()
            merged2 = True
        elif not merged and not g.rolled:
            g.add_merge()
            merged = True
        else:
            g.add_assign()
    return g.finish(head=head)


def test_pxl_facade_fuzz_300_variants(spark, fuzz_ctx):
    rng = random.Random(FUZZ_SEED)
    failures = []
    zero_rows = n_merges = n_multi = n_strfn = n_roll = n_merge2 = 0
    n_append = n_ctx = n_topg = n_roll_onto = 0
    for i in range(N_VARIANTS):
        script, sql = _variant(rng)
        n_merges += "agg = sub.groupby" in script  # filtered self-merge
        n_merge2 += ".merge(d" in script
        n_roll += ".rolling(" in script
        n_multi += ".groupby(['" in script
        n_append += ".append(sub)" in script
        n_ctx += ".ctx['service']" in script
        n_topg += "agg = df.groupby" in script  # argmax join-back
        # rolling composed ONTO a merge/append: a .rolling( call with a
        # merge or append somewhere BEFORE it in the same script
        first_ma = min(
            (x for x in (script.find(".append("), script.find(".merge(")) if x >= 0),
            default=-1,
        )
        last_roll = script.rfind(".rolling(")
        n_roll_onto += first_ma >= 0 and last_roll > first_ma
        n_strfn += any(
            f"px.{fn}(" in script
            for fn in ("toupper", "tolower", "length", "find", "substring")
        )
        sdf = px.run_script(script)["out"].toPandas()
        odf = fuzz_ctx.execute(sql).fetchdf()
        if len(sdf) == 0 and len(odf) == 0:
            # empty frames lose dtype fidelity through toPandas/fetchdf;
            # the contract that remains checkable is the column set
            zero_rows += 1
            if sorted(sdf.columns) != sorted(odf.columns):
                failures.append((i, script, sql, "empty-frame column mismatch"))
            continue
        problems = compare_frames(sdf, odf)
        if problems:
            failures.append((i, script, sql, "; ".join(problems)))
    assert not failures, "\n\n".join(
        f"variant {i}:\n--- script ---\n{s}\n--- sql ---\n{q}\n--- {p}"
        for i, s, q, p in failures[:3]
    ) + f"\n({len(failures)} of {N_VARIANTS} variants failed)"
    # the generator must actually exercise non-trivial shapes: most
    # variants return rows (an all-empty sweep would vacuously pass),
    # and every op family genuinely fires — a path that silently stops
    # firing fails here, not in a code review
    assert zero_rows < N_VARIANTS * 0.5, f"{zero_rows} empty variants"
    assert n_merges >= int(10 * _F), f"only {n_merges} self-merge variants generated"
    assert n_merge2 >= int(20 * _F), f"only {n_merge2} two-table merge variants"
    assert n_roll >= int(20 * _F), f"only {n_roll} rolling variants"
    assert n_multi >= int(5 * _F), f"only {n_multi} composite-groupby variants"
    assert n_strfn >= int(20 * _F), f"only {n_strfn} string-function variants"
    assert n_append >= int(20 * _F), f"only {n_append} append/realignment variants"
    assert n_ctx >= int(20 * _F), f"only {n_ctx} ctx-metadata variants"
    assert n_topg >= int(20 * _F), f"only {n_topg} top-per-group variants"
    assert n_roll_onto >= int(20 * _F), (
        f"only {n_roll_onto} rolling-onto-merge/append variants"
    )


def test_pxl_facade_fuzz_head_contract(spark, fuzz_ctx):
    """head() tier under the head contract's weaker comparator: head(n)
    picks SOME n rows (which ones is order-dependent by definition, same
    as the reference's Limit — dataframe.h:263), so the checkable
    cross-engine invariant is the ROW COUNT: min(n, |result|), never
    more, and zero only when the underlying result is empty."""
    rng = random.Random(4711)
    failures = []
    n_nontrivial = 0
    for i in range(60):
        n = rng.choice([1, 3, 10, 100])
        script, sql = _variant(rng, head=n)
        assert ".head(" in script
        got = px.run_script(script)["out"].count()
        exp = len(fuzz_ctx.execute(sql).fetchdf())
        if got != exp:
            failures.append((i, script, sql, f"rows: spark={got} duckdb={exp}"))
        n_nontrivial += got > 0
    assert not failures, "\n\n".join(
        f"variant {i}:\n--- script ---\n{s}\n--- sql ---\n{q}\n--- {p}"
        for i, s, q, p in failures[:3]
    ) + f"\n({len(failures)} of 60 head variants failed)"
    assert n_nontrivial >= 30, f"only {n_nontrivial} non-empty head variants"


def test_pxl_facade_fuzz_streaming_duality(spark, fuzz_ctx, tmp_path):
    """Generative stream≡batch: a sample of random facade scripts run
    TWICE — batch over the events table, then through
    StreamingScriptRun with events arriving as a 4-chunk file stream —
    and the final streaming refresh must equal the batch rows exactly.
    The fixed-script streaming tier pins 62 corpus scripts; this is its
    generative complement over the same machinery."""
    from pixie_spark.streaming.script_stream import StreamingScriptRun

    ev, docs = _fuzz_tables(spark)
    resolver = _fuzz_resolver(spark)
    rng = random.Random(77)
    n_checked = 0
    failures = []
    for i in range(40):
        script, _ = _variant(rng)
        px.set_context(
            spark, tables={"events": ev, "docs": docs}, metadata=resolver
        )
        batch_rows = sorted(
            map(str, px.run_script(script)["out"].collect())
        )
        if not batch_rows:
            continue  # empty batch result: nothing to pin
        if n_checked >= 12:
            break
        run = StreamingScriptRun(
            spark, script,
            stream_tables={"events": ev}, static_tables={"docs": docs},
            work_dir=str(tmp_path / f"fz{i}"),
            time_col="event_id",  # chunk arrival keyed on the pk
        )
        try:
            run.await_drained()
        finally:
            run.stop()
        got = sorted(map(str, run.results["out"]))
        if got != batch_rows:
            failures.append((i, script, len(got), len(batch_rows)))
        n_checked += 1
    px.set_context(
        spark, tables={"events": ev, "docs": docs}, metadata=resolver
    )
    assert not failures, "\n\n".join(
        f"variant {i} ({ng} vs {nb} rows):\n{s}" for i, s, ng, nb in failures[:3]
    )
    assert n_checked >= 12, f"only {n_checked} non-empty streaming variants"
