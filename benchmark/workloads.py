"""The benchmark's workloads, run through staticql_spark's public entry points.

``content_reads``: a closed loop of staticql reads over a seeded corpus.
One operation is one read; a cycle runs every read kind once, in a fixed
order, with parameters drawn from the seed.

``content_publish``: a closed loop of publishes.  One operation applies a
seeded batch of herb edits to the benchmark's private copy of the corpus,
refreshes the covering index of every touched source with
``streaming.refresh_index_partitions`` (the ``generate-index
--incremental`` path) and reads the refreshed index back.

``operator_batch``: a closed loop of passes over ``OPERATOR_KEYS`` from
``__spark_entry__.queries()`` on the seeded tables of ``opsdata``.  One
operation is one key: ``release_persists()``, construct, noop write.

In a traced run every operation runs twice in a row, once untraced and once
traced, and which of the two goes first alternates, so the difference of
the two sets is the tracing overhead without an order bias.

Every content answer is compared with ``corpus.Corpus``, every operator
result with its DuckDB twin from ``oracle_sql()``; a wrong answer counts as
a failed operation.  Checks run outside the timed region.
"""

from __future__ import annotations

import functools
import os
import time
import traceback

from pyspark.sql import functions as F

from corpus import CONFIG, PAGE, Corpus

READ_KINDS = (
    "eq", "in", "prefix", "join", "through", "cursor_after", "cursor_before", "find", "peek",
)
EDITS_PER_PUBLISH = 10
# The vector kernel (cosine top-k, kNN vote, label noise), persist-pinned
# ranking evaluation, and power iteration, which spends most of its time
# building the DataFrame.  None of them reads a shared artifact.
OPERATOR_KEYS = (
    "ann_cosine_topk", "ann_knn_classify", "ann_label_noise", "ann_recall", "embedding_debias",
)
# ann_label_noise classifies every vector by its neighbours in the whole
# corpus with the unrolled pair kernel.  It reads its own, larger embeddings
# table (``Run.large_tables``), on which the kernel scores over 1M pairs
# and so dominates the key.
LARGE_KEYS = ("ann_label_noise",)


class Run:
    """State of one benchmark run: session, corpus, tracing, results."""

    def __init__(self, spark, corpus: Corpus, root: str, tracer, probe, name: str):
        self.spark = spark
        self.corpus = corpus
        self.root = root
        self.tracer = tracer
        self.probe = probe
        self.name = name
        self.attempted = 0
        self.failed = 0
        self.op_seconds: list[float] = []
        self.traced_seconds: list[float] = []
        self.pass_seconds: list[float] = []
        self.op_keys: list[str] = []
        self.op_ids: list[str] = []
        self.stats: dict[str, dict[str, list[float]]] = {}
        self.parse_seconds: dict[str, float] = {}
        self.queries: dict = {}
        self.tables = ""
        self.large_tables = ""
        self.released = 0
        self._ops = 0
        self.sql = None

    # ------------------------------------------------------------ helpers
    def define(self):
        from staticql_spark import define

        with self.tracer.span("define", "sources"):
            self.sql = define(CONFIG)(base_dir=self.root, spark=self.spark)
        return self.sql

    def force_sources(self) -> None:
        """Parse every source once (a noop write forces the whole scan) and
        keep each source's seconds."""
        for name in CONFIG["sources"]:
            t = time.perf_counter()
            with self.tracer.span(f"parse:{name}", "sources"):
                self.sql.df(name).write.format("noop").mode("overwrite").save()
            self.parse_seconds[name] = time.perf_counter() - t

    def begin_op(self, kind: str) -> None:
        """Name the next operation; a traced operation is also the job
        group of the jobs it starts."""
        self._ops += 1
        op = f"{self.name}:{self._ops}:{kind}"
        self.tracer.op = op
        if self.tracer.enabled:
            self.op_ids.append(op)
            self.probe.set_group(op, kind)
        else:
            self.probe.clear_group()

    def record(self, prefix: str, **values: float) -> None:
        """Keep traced per-layer values under ``<prefix>.<name>``."""
        per = self.stats.setdefault(prefix, {})
        for k, v in values.items():
            per.setdefault(k, []).append(v)

    def finish(self, ok: bool, seconds: float) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1
        (self.traced_seconds if self.tracer.enabled else self.op_seconds).append(seconds)


# ---------------------------------------------------------------- reads
def read_cycle(corpus: Corpus, rng) -> list[tuple[str, dict]]:
    herbs = sorted(corpus.herbs)
    tags = sorted(corpus.tags)
    name = corpus.herbs[rng.choice(herbs)]["name"]
    return [
        ("eq", {"tag": rng.choice(tags)}),
        ("in", {"compounds": rng.sample(sorted(corpus.compounds), 3)}),
        ("prefix", {"prefix": name[:1]}),
        ("join", {"tag": rng.choice(tags)}),
        ("through", {"herbs": sorted(rng.sample(corpus.grouped, 5))}),
        ("cursor_after", {"at": rng.randrange(0, len(herbs) - PAGE - 5)}),
        ("cursor_before", {"at": rng.randrange(PAGE + 5, len(herbs))}),
        ("find", {"herb": rng.choice(herbs)}),
        ("peek", {"tag": rng.choice(tags)}),
    ]


def build_read(sql, corpus: Corpus, kind: str, p: dict):
    """The query-builder chain of one read (no action)."""
    from staticql_spark.functions import encode_cursor

    herbs = sql.from_("herbs")
    if kind in ("eq", "peek"):
        return herbs.where("tagSlugs", "eq", p["tag"])
    if kind == "in":
        return herbs.where("compoundSlugs", "in", p["compounds"]).order_by("name", "desc")
    if kind == "prefix":
        return herbs.where("name", "startsWith", p["prefix"]).order_by("name")
    if kind == "join":
        return herbs.where("tagSlugs", "eq", p["tag"]).join("tags").join("compounds")
    if kind == "through":
        return herbs.where("slug", "in", p["herbs"]).join("recipes")
    if kind in ("cursor_after", "cursor_before"):
        slug = sorted(corpus.herbs)[p["at"]]
        return herbs.cursor(encode_cursor(slug, {"slug": slug}), kind.split("_")[1])
    return herbs  # find


def act(qb, kind: str, p: dict):
    if kind == "find":
        return qb.find(p["herb"])
    if kind == "peek":
        return qb.peek()
    return qb.exec()


def expected_page(corpus: Corpus, kind: str, p: dict) -> tuple[list[str], bool, bool]:
    """(slugs, has_next, has_prev) the model predicts for a page read."""
    c = corpus
    if kind in ("eq", "join", "peek"):
        full = c.herb_slugs(lambda r: p["tag"] in r["tagSlugs"])
    elif kind == "in":
        want = set(p["compounds"])
        full = c.herb_slugs(lambda r: bool(want & set(r["compoundSlugs"])), order="name", desc=True)
    elif kind == "prefix":
        full = c.herb_slugs(lambda r: r["name"].startswith(p["prefix"]), order="name")
    elif kind == "through":
        full = [s for s in p["herbs"] if s in c.herbs]
    elif kind == "cursor_after":
        full = sorted(c.herbs)[p["at"] + 1:]
        return full[:PAGE], len(full) > PAGE, True
    else:  # cursor_before
        at = p["at"]
        return sorted(c.herbs)[max(0, at - PAGE):at], True, at > PAGE
    return full[:PAGE], len(full) > PAGE, False


def check_read(corpus: Corpus, kind: str, p: dict, res) -> bool:
    c = corpus
    if kind == "find":
        want = c.herbs[p["herb"]]
        return (
            res is not None
            and res["slug"] == p["herb"]
            and res["name"] == want["name"]
            and list(res["tagSlugs"]) == want["tagSlugs"]
        )
    slugs, has_next, has_prev = expected_page(c, kind, p)
    rows = res.data
    if [r["slug"] for r in rows] != slugs:
        return False
    if (res.page_info.has_next_page, res.page_info.has_previous_page) != (has_next, has_prev):
        return False
    for r in rows:
        if kind == "join":
            rec = c.herbs[r["slug"]]
            if [t["slug"] for t in r["tags"]] != sorted(set(rec["tagSlugs"])):
                return False
            if [x["slug"] for x in r["compounds"]] != sorted(set(rec["compoundSlugs"])):
                return False
        elif kind == "through":
            if [x["slug"] for x in r["recipes"]] != c.recipes_of_herb(r["slug"]):
                return False
        elif kind == "peek":
            if set(r.asDict()) != {"slug", "name", "compoundSlugs", "tagSlugs"}:
                return False
    return True


def do_read(run: Run, kind: str, p: dict) -> None:
    run.begin_op(kind)
    tr = run.tracer
    t0 = time.perf_counter()
    try:
        with tr.span(kind, "bench"), tr.span("read", "query"), tr.split_collect("query") as split:
            res = act(build_read(run.sql, run.corpus, kind, p), kind, p)
        elapsed = time.perf_counter() - t0
        ok = check_read(run.corpus, kind, p, res)
    except Exception as exc:  # noqa: BLE001 - a failed read is counted, the run goes on
        print(f"read {kind} {p} failed: {exc!r}", flush=True)
        traceback.print_exc()
        run.finish(False, time.perf_counter() - t0)
        return
    if not ok:
        print(f"read {kind} {p} returned a wrong answer", flush=True)
    run.finish(ok, elapsed)
    if tr.enabled:
        # Build is everything before the program's collect: the builder
        # chain, ``.plan()`` and the page's sort and limit.
        jobs, _, tasks = run.probe.jobs_stages_tasks(tr.op)
        rows = 1 if kind == "find" else len(res.data)
        run.record(
            f"query.{kind}", build_ms=(elapsed - split["plan"] - split["exec"]) * 1e3,
            plan_ms=split["plan"] * 1e3, exec_ms=split["exec"] * 1e3, rows_returned=rows,
            jobs=jobs, tasks=tasks,
        )


def read_pass(run: Run, rng) -> list:
    """One cycle of the read mix."""
    return [functools.partial(do_read, run, kind, p) for kind, p in read_cycle(run.corpus, rng)]


# ---------------------------------------------------------------- publish
def index_dir(run: Run) -> str:
    return os.path.join(run.root, "index")


def _files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.join(d, n)] = (st.st_mtime_ns, st.st_size)
    return out


def tree_bytes(path: str) -> int:
    return sum(size for _, size in _files(path).values())


def read_index(run: Run, source: str, slugs: list[str] | None = None) -> dict[str, set]:
    """Index rows per slug: {slug: {(field, v, prefix)}}."""
    df = run.spark.read.parquet(f"{index_dir(run)}/{source}")
    if slugs is not None:
        df = df.where(F.col("slug").isin(slugs))
    out: dict[str, set] = {}
    for r in df.select("slug", "field", "v", "prefix").collect():
        out.setdefault(r["slug"], set()).add((r["field"], r["v"], str(r["prefix"])))
    return out


def check_index(run: Run, source: str, got: dict[str, set], slugs) -> bool:
    return all(got.get(s, set()) == run.corpus.index_entries(source, s) for s in slugs)


def full_build(run: Run) -> float:
    """A full ``save_indexes`` of every source; returns its seconds."""
    t0 = time.perf_counter()
    with run.tracer.span("save_indexes", "indexing"):
        run.sql.save_indexes(index_dir(run))
    return time.perf_counter() - t0


def do_publish(run: Run, rng) -> None:
    from staticql_spark.streaming import DIFF_SCHEMA, refresh_index_partitions

    run.begin_op("publish")
    tr = run.tracer
    target = os.path.join(index_dir(run), "herbs")
    before = _files(target) if tr.enabled else None
    t0 = time.perf_counter()
    try:
        with tr.span("publish", "bench"):
            with tr.span("edit", "bench"):
                diff = run.corpus.edit_batch(run.root, EDITS_PER_PUBLISH)
            sql = run.define()
            diff_df = run.spark.createDataFrame(diff, DIFF_SCHEMA)
            r0 = time.perf_counter()
            with tr.span("refresh", "indexing"):
                for source in sorted({d[1] for d in diff}):
                    refresh_index_partitions(sql, source, diff_df, index_dir(run))
            r1 = time.perf_counter()
            touched = sorted({d[2] for d in diff})
            with tr.span("confirm", "query"):
                got = read_index(run, "herbs", touched)
            r2 = time.perf_counter()
        elapsed = time.perf_counter() - t0
        ok = check_index(run, "herbs", got, touched)
    except Exception as exc:  # noqa: BLE001 - a failed publish is counted, the run goes on
        print(f"publish failed: {exc!r}", flush=True)
        traceback.print_exc()
        run.finish(False, time.perf_counter() - t0)
        return
    if not ok:
        print(f"publish {diff} left a wrong index", flush=True)
    run.finish(ok, elapsed)
    if tr.enabled:
        after = _files(target)
        changed = {p for p, v in after.items() if before.get(p) != v}
        gone = set(before) - set(after)
        parts = {os.path.dirname(p) for p in changed | gone if "prefix=" in p}
        written = sum(after[p][1] for p in changed)
        jobs, _, tasks = run.probe.jobs_stages_tasks(tr.op)
        run.record(
            "query.confirm", exec_ms=(r2 - r1) * 1e3,
            rows_returned=sum(len(v) for v in got.values()), jobs=jobs, tasks=tasks,
        )
        run.record("indexing", refresh_s=r1 - r0, partitions_rewritten=len(parts),
                   bytes_written_per_edit=written / len(diff))


def publish_pass(run: Run, rng) -> list:
    """One publish."""
    return [functools.partial(do_publish, run, rng)]


def verify_full_index(run: Run) -> bool:
    """After the timed passes: the whole index equals the model's."""
    ok = True
    for source in ("herbs", "recipes"):
        got = read_index(run, source)
        slugs = run.corpus.recipes if source == "recipes" else run.corpus.herbs
        ok &= set(got) <= set(slugs) and check_index(run, source, got, slugs)
    return ok


# ---------------------------------------------------------------- operators
def key_tables(run: Run, key: str) -> str:
    return run.large_tables if key in LARGE_KEYS else run.tables


def operator_warmup(run: Run) -> dict:
    """The warm-up pass of ``operator_batch``, part of set-up: every key
    once, its result collected to pandas for the DuckDB check."""
    import __spark_entry__ as entry
    from staticql_spark.operators import release_persists

    run.queries = entry.queries()
    results = {}
    for key in OPERATOR_KEYS:
        release_persists()
        results[key] = run.queries[key](run.spark, key_tables(run, key)).toPandas()
    return results


def do_key(run: Run, key: str) -> None:
    """``release_persists()``, construct, then run the result.  Untraced,
    the result runs as a noop write.  Traced, the plan of the constructed
    DataFrame is forced and that same QueryExecution runs, so the plan is
    made once either way."""
    from staticql_spark.operators import release_persists

    run.begin_op(key)
    tr = run.tracer
    released = release_persists()
    t0 = time.perf_counter()
    try:
        with tr.span(key, "operators"):
            with tr.span("construct", "operators"):
                df = run.queries[key](run.spark, key_tables(run, key))
            t1 = time.perf_counter()
            if tr.enabled:
                qe = df._jdf.queryExecution()
                with tr.span("plan", "operators"):
                    qe.executedPlan()
                t2 = time.perf_counter()
                with tr.span("exec", "operators"):
                    qe.toRdd().count()
            else:
                t2 = t1
                df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
    except Exception as exc:  # noqa: BLE001 - a failed key is counted, the pass goes on
        print(f"operator {key} failed: {exc!r}", flush=True)
        traceback.print_exc()
        run.finish(False, time.perf_counter() - t0)
        return
    run.finish(True, t3 - t0)
    run.op_keys.append(key)
    if tr.enabled:
        run.released += released
        run.record(f"operators.{key}", construct_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2)


def operator_pass(run: Run, rng) -> list:
    """One pass over ``OPERATOR_KEYS``, in order."""
    return [functools.partial(do_key, run, key) for key in OPERATOR_KEYS]


def check_operators(run: Run, results: dict) -> None:
    """After the timed passes: every key's collected result against its
    DuckDB twin, with the repository's oracle comparator.  A wrong key
    turns each of its timed operations into a failed one."""
    import duckdb
    import oracle_harness
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    for key in OPERATOR_KEYS:
        tables = key_tables(run, key)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{tables}/embeddings.parquet'")
        problems = oracle_harness.compare(key, results[key], con.execute(oracles[key]).fetchdf())
        con.close()
        if problems:
            print(f"operator {key} differs from its DuckDB twin: {problems}", flush=True)
            run.failed += run.op_keys.count(key)


WORKLOADS = {
    "content_reads": read_pass,
    "content_publish": publish_pass,
    "operator_batch": operator_pass,
}


def run_loop(run: Run, rng, seconds: float, paired: bool = False) -> None:
    """The closed loop: whole passes until ``seconds`` have passed.  With
    ``paired`` every operation runs untraced and traced, in turn first."""
    start = time.perf_counter()
    pairs = 0
    while True:
        t = time.perf_counter()
        for op in WORKLOADS[run.name](run, rng):
            if not paired:
                op()
                continue
            for enabled in ((False, True) if pairs % 2 == 0 else (True, False)):
                run.tracer.enabled = enabled
                op()
            pairs += 1
        run.pass_seconds.append(time.perf_counter() - t)
        if time.perf_counter() - start >= seconds:
            run.tracer.enabled = paired
            return
