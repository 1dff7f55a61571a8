"""The three workloads.  Each drives the program only through its public
functions, times one kind of operation in a closed loop (one client,
one call at a time) and checks the outputs after the timed window.

An operation is: ``extract_job`` one ``run_extraction_job`` over the
whole pages table; ``incremental_update`` one ``run_incremental_job``
(the resume that must commit nothing is timed on its own);
``contract_mix`` one pass over the query set.  The first operation runs
in the fresh session, before the window, and is reported on its own.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import inputs
from tracing import SqlReader, Tracer, stage_metrics, steal_ticks, tree_cpu_s

INCREMENTAL_BUCKETS = 1024
# untraced operations the window always holds, however short --seconds
MIN_WINDOW_OPS = 2
# The contract queries the mix runs: the five carried regressions of the
# bench.  A cold pass over all 31 bench.HEADLINE queries alone takes
# about a minute on 4 cores, which does not fit the run budget of the
# benchmark; with five, a run times three warm passes after the cold one.
CONTRACT_QUERIES = (
    "detection_map",
    "tfidf_top_terms",
    "simhash64_sig_pairs",
    "ann_lsh_multiband",
    "warc_roundtrip",
)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 1]."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(np.ceil(q * len(s))) - 1))]


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    run_dir: str
    seed: int
    seconds: float
    trace: bool
    sql: SqlReader | None = None
    first_op_s: float = 0.0
    first_op_cpu_s: float = 0.0
    op_walls: list[float] = field(default_factory=list)
    op_cpus: list[float] = field(default_factory=list)
    steal_share: float = 0.0
    traced_walls: list[float] = field(default_factory=list)
    layer_ops: list[dict] = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    figures: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)

    def loop(self, op, phase, max_ops: int | None = None) -> None:
        """Run ``op(i, traced)`` in a closed loop: i = 0 is the cold
        operation, then the timed window of ``seconds`` and at least
        ``MIN_WINDOW_OPS`` untraced operations.  In a traced
        run every second window operation is traced, so traced and
        untraced operations share the session and the window."""
        cpu0 = tree_cpu_s()
        self.first_op_s = op(0, False)
        self.first_op_cpu_s = tree_cpu_s() - cpu0
        phase("first_op")
        steal0, total0 = steal_ticks()
        t_end = time.perf_counter() + self.seconds
        i = 1
        while max_ops is None or i < max_ops:
            traced = self.trace and i % 2 == 0
            cpu0 = tree_cpu_s()
            wall = op(i, traced)
            if traced:
                self.traced_walls.append(wall)
            else:
                self.op_walls.append(wall)
                self.op_cpus.append(tree_cpu_s() - cpu0)
            i += 1
            done = time.perf_counter() >= t_end and len(self.op_walls) >= MIN_WINDOW_OPS
            if done and (not self.trace or self.traced_walls):
                break
        phase("window")
        steal1, total1 = steal_ticks()
        self.steal_share = (steal1 - steal0) / max(total1 - total0, 1)
        self.check(bool(self.op_walls), "no untraced operation completed")

    def collect_layers(self, rec: dict | None, traced: bool) -> dict:
        """Status-store counters of one operation (empty when untraced;
        the SQL reader still skips past its executions)."""
        if self.sql is None:
            return {}
        execs = self.sql.new_executions()
        if not traced:
            return {}
        out = stage_metrics(self.spark, self.tracer.groups_under(rec))
        for key in ("python.total_s", "python.boot_s", "python.init_s",
                    "python.data_sent_mb", "python.data_received_mb"):
            out[key] = sum(e[key] for e in execs)
        out["plan.exchanges"] = sum(e["exchanges"] for e in execs)
        out["plan.python_nodes"] = sum(e["python_nodes"] for e in execs)
        self.layer_ops.append(out)
        return out


def _kernel_seconds(ctx: Ctx, out: str, since: float) -> dict:
    """Per-stage kernel core-seconds from the job's lineage rows."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from doclayout_yolo_spark import pipeline  # noqa: PLC0415

    with ctx.tracer.span("read_lineage", "read_lineage", group=True):
        row = (
            pipeline.read_lineage(ctx.spark, out)
            .filter(F.col("t_start") >= since)
            .agg(*(F.sum(c).alias(c) for c in ("parse_s", "detect_s", "nms_s", "assemble_s")))
            .first()
        )
    return {f"kernel.{k}": float(row[k] or 0.0) for k in ("parse_s", "detect_s", "nms_s", "assemble_s")}


def _sink_layers(out: str, input_bytes: int) -> dict:
    from doclayout_yolo_spark import pipeline  # noqa: PLC0415

    files, size = 0, 0
    for d, _, names in os.walk(pipeline.data_path(out)):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return {"sink.output_files": files, "sink.bytes_per_input_byte": size / max(input_bytes, 1)}


def _html_for(path: str, urls: list[str]) -> list[tuple[str, bytes]]:
    t = pq.read_table(path, columns=["url", "html"])
    t = t.filter(pc.is_in(t["url"], value_set=pa.array(urls)))
    return sorted(zip(t["url"].to_pylist(), t["html"].to_pylist()))


def _check_output(ctx: Ctx, out: str, pages_path: str, want: list[dict], what: str) -> None:
    """The output holds every input url exactly once and no quarantined
    row; every data bucket is committed in the manifest; the sampled
    rows equal ``want``, the rows ``oracle.extract_rows`` gives for the
    same (url, html): the text and every span field, exactly."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from doclayout_yolo_spark import pipeline  # noqa: PLC0415

    sample = [w["url"] for w in want]
    urls_in = set(pq.read_table(pages_path, columns=["url"])["url"].to_pylist())
    hit = F.col("url").isin(sample)
    rows = (
        pipeline.read_extracted(ctx.spark, out)
        .select(
            "url", "error",
            F.when(hit, F.col("extracted_text")).alias("text"),
            F.when(hit, F.col("spans")).alias("spans"),
        )
        .collect()
    )
    counts = Counter(r["url"] for r in rows)
    missing = urls_in - counts.keys()
    extra = counts.keys() - urls_in
    dups = sum(c > 1 for c in counts.values())
    errs = sum(r["error"] is not None for r in rows)
    ctx.failed += errs + len(missing)
    ctx.check(not (missing or extra or dups), f"{what}: {len(missing)} urls missing, {len(extra)} unexpected, {dups} repeated")
    ctx.check(errs == 0, f"{what}: {errs} quarantined rows")

    data = pipeline.data_path(out)
    buckets = {int(n.split("=", 1)[1]) for n in os.listdir(data) if n.startswith("part_id=")}
    committed = {r["part_id"] for r in pipeline.completed_buckets(ctx.spark, out).collect()}
    ctx.check(buckets <= committed, f"{what}: {len(buckets - committed)} data buckets missing from the manifest")

    got = {r["url"]: r for r in rows if r["url"] in set(sample)}
    bad = [
        w["url"] for w in want
        if w["url"] not in got
        or got[w["url"]]["text"] != w["extracted_text"]
        or [sp.asDict() for sp in got[w["url"]]["spans"] or []] != w["spans"]
    ]
    ctx.check(not bad, f"{what}: {len(bad)} of {len(sample)} sampled rows differ from the oracle")


def _timed_job(ctx: Ctx, name: str, fn, *args, **kw) -> tuple[dict, float]:
    """One job call inside a call span (with its own job group), with the
    write wall the job reports split off as a derived execute span and
    the rest as its commit span."""
    with ctx.tracer.span("call", name, group=True) as call:
        t0 = time.perf_counter()
        res = fn(*args, **kw)
        wall = time.perf_counter() - t0
    if "wall_s" in res:
        ctx.tracer.derived(call, "execute", "write", res["wall_s"], at_start=True)
        ctx.tracer.derived(call, "commit", "commit", wall - res["wall_s"], at_start=False)
    return res, wall


# ---------------------------------------------------------------------------
# extract_job


def extract_prepare(work: str, seed: int, cores: int) -> dict:
    return {"pages": inputs.extract_input(work, seed, cores)}


def extract_run(ctx: Ctx, meta: dict, phase) -> None:
    from doclayout_yolo_spark import pipeline  # noqa: PLC0415

    spark, tr = ctx.spark, ctx.tracer
    pages = meta["pages"]
    n_docs = pages["docs"]
    outs: list[str] = []

    def op(i: int, traced: bool) -> float:
        out = os.path.join(ctx.run_dir, f"extract{i}")
        tr.enabled = traced
        since = time.time()
        ctx.attempted += 1 + n_docs
        with tr.span("op", f"job {i}") as op_rec:
            res, wall = _timed_job(
                ctx, "run_extraction_job", pipeline.run_extraction_job,
                spark, spark.read.parquet(pages["path"]), out,
            )
            layer = ctx.collect_layers(op_rec, traced)
            if traced:
                layer.update(_kernel_seconds(ctx, out, since))
        ctx.check(res["n_docs"] == n_docs, f"job {i} extracted {res['n_docs']} of {n_docs} docs")
        ctx.check(res["observed_errors"] == 0, f"job {i}: {res['observed_errors']} quarantined docs")
        if traced:
            layer.update(_sink_layers(out, pages["html_bytes"]))
            layer["pipeline.write_s"] = res["wall_s"]
            layer["pipeline.commit_s"] = wall - res["wall_s"]
            layer["pipeline.buckets_rewritten"] = res["n_buckets_processed"]
            layer["pipeline.docs_reextracted"] = res["n_docs"]
            layer["pipeline.reextract_amplification"] = res["n_docs"] / n_docs
        tr.enabled = ctx.trace
        outs.append(out)
        while len(outs) > 1:  # keep only the newest output on disk
            shutil.rmtree(outs.pop(0), ignore_errors=True)
        return wall

    ctx.loop(op, phase)
    ctx.figures["extract_docs_per_s"] = (n_docs / statistics.median(ctx.op_walls), "docs/s", len(ctx.op_walls))
    if ctx.trace:  # the exactly-once resume of the newest output commits nothing
        ctx.attempted += 1
        with tr.span("op", "resume"):
            again, resume = _timed_job(
                ctx, "run_extraction_job (resume)", pipeline.run_extraction_job,
                spark, spark.read.parquet(pages["path"]), outs[-1],
            )
        ctx.check(again["n_docs"] == 0, f"resume committed {again['n_docs']} docs")
        ctx.layers["pipeline.resume_s"] = resume
    _check_output(ctx, outs[-1], pages["path"], pages["oracle"], "extract_job")
    phase("checks")
    if ctx.trace:
        ctx.layers.update(_kernel_single(ctx, pages["path"]))


def _kernel_single(ctx: Ctx, path: str) -> dict:
    """Single-process kernel trace on a seeded sample of the pages, in
    Arrow-batch-sized batches: the one-core baseline behind
    ``scaling.kernel_efficiency``, with its own stage split and a
    ``parse_blocks``-alone cross-check of the parse stage."""
    from doclayout_yolo_spark import extract  # noqa: PLC0415
    from doclayout_yolo_spark.session import ARROW_BATCH_ROWS  # noqa: PLC0415

    htmls = pq.read_table(path, columns=["html"])["html"].to_pylist()
    rng = np.random.default_rng([ctx.seed, 97])
    pick = sorted(rng.choice(len(htmls), min(ARROW_BATCH_ROWS, len(htmls)), replace=False))
    docs = [htmls[i] for i in pick]
    with ctx.tracer.span("kernel", "extract_documents"):
        acc: dict = {}
        t0 = time.perf_counter()
        for b in range(0, len(docs), ARROW_BATCH_ROWS):
            extract.extract_documents(docs[b : b + ARROW_BATCH_ROWS], acc)
        wall = time.perf_counter() - t0
    with ctx.tracer.span("kernel", "parse_blocks"):
        t0 = time.perf_counter()
        for h in docs:
            extract.parse_blocks(h)
        parse_alone = time.perf_counter() - t0
    out = {f"kernel.single.{k}": acc.get(k, 0.0) for k in ("parse_s", "detect_s", "nms_s", "assemble_s")}
    out["kernel.single.parse_blocks_s"] = parse_alone
    out["kernel.single.docs"] = len(docs)
    out["kernel.docs_per_core_s"] = len(docs) / wall
    return out


# ---------------------------------------------------------------------------
# incremental_update


def incremental_prepare(work: str, seed: int, cores: int) -> dict:
    return inputs.snapshot_inputs(work, seed, cores)


def incremental_run(ctx: Ctx, meta: dict, phase) -> None:
    from doclayout_yolo_spark import pipeline  # noqa: PLC0415

    spark, tr = ctx.spark, ctx.tracer
    snaps, updates = meta["snapshots"], meta["updates"]
    out = os.path.join(ctx.run_dir, "incremental")
    tr.enabled = False
    res = pipeline.run_extraction_job(
        spark, spark.read.parquet(snaps[0]["path"]), out, n_buckets=INCREMENTAL_BUCKETS
    )
    ctx.check(res["n_docs"] == snaps[0]["docs"], f"snapshot 0 build extracted {res['n_docs']} docs")
    if ctx.sql is not None:
        ctx.sql.new_executions()
    phase("build")
    resume_walls: list[float] = []
    applied: list[int] = []

    def op(i: int, traced: bool) -> float:
        k = i + 1
        old, new, edits = snaps[k - 1], snaps[k], updates[k - 1]
        tr.enabled = traced
        since = time.time()
        ctx.attempted += 2 + edits["added"] + edits["changed"]
        with tr.span("op", f"update {k}") as op_rec:
            res, wall = _timed_job(
                ctx, "run_incremental_job", pipeline.run_incremental_job,
                spark, spark.read.parquet(old["path"]), spark.read.parquet(new["path"]), out,
                n_buckets=INCREMENTAL_BUCKETS,
            )
            again, resume = _timed_job(
                ctx, "run_extraction_job (resume)", pipeline.run_extraction_job,
                spark, spark.read.parquet(new["path"]), out, n_buckets=INCREMENTAL_BUCKETS,
            )
            layer = ctx.collect_layers(op_rec, traced)
            if traced:
                layer.update(_kernel_seconds(ctx, out, since))
        applied.append(k)
        for key in ("added", "removed", "changed"):
            ctx.check(res[f"n_{key}"] == edits[key], f"update {k}: n_{key}={res[f'n_{key}']}, generator made {edits[key]}")
        ctx.check(again["n_docs"] == 0, f"resume after update {k} committed {again['n_docs']} docs")
        if i and not traced:
            resume_walls.append(resume)
        if traced:
            layer.update(_sink_layers(out, new["html_bytes"]))
            layer["pipeline.write_s"] = again["wall_s"]
            layer["pipeline.commit_s"] = resume - again["wall_s"]
            layer["pipeline.resume_s"] = resume
            layer["pipeline.buckets_rewritten"] = res["n_buckets_reprocessed"]
            layer["pipeline.docs_reextracted"] = res["n_docs"]
            layer["pipeline.reextract_amplification"] = res["n_docs"] / (edits["added"] + edits["changed"])
        tr.enabled = ctx.trace
        return wall

    ctx.loop(op, phase, max_ops=len(updates))
    ctx.figures["update_s"] = (statistics.median(ctx.op_walls), "s", len(ctx.op_walls))
    ctx.figures["resume_s"] = (statistics.median(resume_walls), "s", len(resume_walls))
    last = snaps[applied[-1]]["path"]
    touched = {u for k in applied for u in updates[k - 1]["touched_urls"]}
    live = touched & set(pq.read_table(last, columns=["url"])["url"].to_pylist())
    from doclayout_yolo_spark.oracle import extract_rows  # noqa: PLC0415

    want = extract_rows(_html_for(last, inputs.sample(live, ctx.seed, 98)))
    _check_output(ctx, out, last, want, "incremental_update")
    phase("checks")


# ---------------------------------------------------------------------------
# contract_mix


def contract_prepare(work: str, seed: int, cores: int) -> dict:
    import check_contract  # noqa: PLC0415
    from bench import HEADLINE  # noqa: PLC0415

    unknown = set(CONTRACT_QUERIES) - set(HEADLINE)
    if unknown:
        raise SystemExit(f"not bench.HEADLINE queries: {sorted(unknown)}")
    return {"sf_dir": check_contract.SF_DIR, "queries": list(CONTRACT_QUERIES)}


def contract_run(ctx: Ctx, meta: dict, phase) -> None:
    from doclayout_yolo_spark.contract import ALL_QUERIES  # noqa: PLC0415

    spark, tr = ctx.spark, ctx.tracer
    sf, names = meta["sf_dir"], meta["queries"]
    cold_rows: dict[str, tuple[list[str], list]] = {}
    samples: dict[str, list[tuple[float, float]]] = {q: [] for q in names}

    def op(p: int, traced: bool) -> float:
        order = list(np.random.default_rng([ctx.seed, p]).permutation(names))
        tr.enabled = traced
        times = {}
        ctx.attempted += len(order)
        with tr.span("op", f"pass {p}") as op_rec:
            t_pass = time.perf_counter()
            for q in order:
                with tr.span("call", q):
                    with tr.span("build", q, group=True):
                        t0 = time.perf_counter()
                        df = ALL_QUERIES[q][0](spark, sf)
                        t1 = time.perf_counter()
                    with tr.span("execute", q, group=True):
                        if p == 0:  # the cold pass keeps its rows for the oracle check
                            rows = df.collect()
                            cols = sorted(df.columns)
                            cold_rows[q] = (cols, [tuple(r[c] for c in cols) for r in rows])
                        else:
                            df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                times[q] = (t1 - t0, t2 - t1)
            wall = time.perf_counter() - t_pass
            layer = ctx.collect_layers(op_rec, traced)
        if p and not traced:
            for q, bt in times.items():
                samples[q].append(bt)
        if traced:
            for q, (b, x) in times.items():
                layer[f"q.{q}.build_s"] = b
                layer[f"q.{q}.exec_s"] = x
            layer["driver.build_s"] = sum(b for b, _ in times.values())
        tr.enabled = ctx.trace
        return wall

    ctx.loop(op, phase)
    execs = [b + x for q in names for b, x in samples[q]]
    ctx.figures["query_set_s"] = (statistics.median(ctx.op_walls), "s", len(ctx.op_walls))
    ctx.figures["query_set_cold_s"] = (ctx.first_op_s, "s", 1)
    ctx.figures["query_p50_s"] = (percentile(execs, 0.5), "s", len(execs))
    ctx.figures["query_p80_s"] = (percentile(execs, 0.8), "s", len(execs))
    ctx.layers["query.p50_s"] = percentile(execs, 0.5)
    ctx.layers["query.p80_s"] = percentile(execs, 0.8)
    ctx.layers["query.samples"] = len(execs)
    _check_contract(ctx, sf, cold_rows)
    phase("checks")


def _check_contract(ctx: Ctx, sf: str, cold_rows: dict) -> None:
    """The cold pass's rows equal the DuckDB oracle, compared the way
    tools/check_contract.py compares them; queries without an oracle at
    this scale must return rows."""
    import check_contract as cc  # noqa: PLC0415
    import duckdb  # noqa: PLC0415

    from doclayout_yolo_spark.contract import ALL_QUERIES  # noqa: PLC0415

    con = duckdb.connect()
    try:
        for t in cc.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{sf}/{t}.parquet')")
        for q, (cols, rows) in sorted(cold_rows.items()):
            sql = ALL_QUERIES[q][1]
            golden_elsewhere = q in cc.GOLDEN_ONLY_AT_001 and not sf.endswith("sf0.01")
            if sql is None or golden_elsewhere:
                ctx.check(len(rows) > 0, f"{q}: no rows (non-empty check)")
                continue
            res = con.execute(sql)
            dcols_full = [d[0] for d in res.description]
            drows = res.fetchall()
            dcols = sorted(dcols_full)
            idx = [dcols_full.index(c) for c in dcols]
            want = sorted(cc.row_key(tuple(r[i] for i in idx)) for r in drows)
            got = sorted(cc.row_key(r) for r in rows)
            ctx.check(cols == dcols, f"{q}: columns {cols} vs oracle {dcols}")
            ctx.check(got == want, f"{q}: {len(got)} rows differ from the oracle's {len(want)}")
    finally:
        con.close()


WORKLOADS = {
    "extract_job": (extract_prepare, extract_run),
    "incremental_update": (incremental_prepare, incremental_run),
    "contract_mix": (contract_prepare, contract_run),
}
