"""Seeded inputs for the job workloads, written as parquet pages tables.

The seed picks the page index range handed to ``fixtures.make_rows`` and
the edit set of every incremental snapshot.  Tables are generated once
per seed in a spawn process pool (before any Spark session exists, so
generation never warms the session under test) and cached under the
work directory, keyed by the seed and a digest of the package source; a
run that finds its key cached reads the same bytes.  The oracle rows of
the ``extract_job`` check sample are computed and cached the same way.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# ~20 KB of html per page: the Common-Crawl page weight of the paper's
# pages table (fixtures.make_page's default range gives ~4 KB pages)
SECTIONS = (15, 35)
EXTRACT_PAGES = 600
SNAPSHOT_PAGES = 1200
# share of the previous snapshot's urls each update adds, removes and
# changes: small enough that the re-extracted share stays far below the
# corpus at 1024 buckets
ADD_SHARE, REMOVE_SHARE, CHANGE_SHARE = 0.01, 0.01, 0.02
# updates prepared per seed; a run stops early when its window ends
N_UPDATES = 6
FILES_PER_TABLE = 8
# urls of the extract_job output compared with oracle.extract_rows
ORACLE_SAMPLE = 200

_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _render(indices: list[int]) -> pa.Table:
    """Pool worker: the pages table rows for ``indices``."""
    from doclayout_yolo_spark.fixtures import make_rows  # noqa: PLC0415

    pdf = make_rows(np.asarray(indices, dtype=np.int64), sections=SECTIONS)
    return pa.Table.from_pandas(pdf, preserve_index=False).cast(_SCHEMA)


def _write_table(table: pa.Table, path: str) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // FILES_PER_TABLE)
    for k in range(FILES_PER_TABLE):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"), compression="zstd")


def _first_index(seed: int) -> int:
    # fixtures.url_for seeds numpy's RandomState with 42_000_126 + i, which
    # must stay below 2**32
    return int(np.random.default_rng([seed, 17]).integers(0, 10**9))


def _summary(table: pa.Table) -> dict:
    return {
        "docs": table.num_rows,
        "html_bytes": pc.sum(pc.binary_length(table["html"])).as_py(),
    }


def _code_digest() -> str:
    """Digest of the package source: inputs and oracle rows made by one
    version of the generator and oracle are never reused by another."""
    import doclayout_yolo_spark  # noqa: PLC0415

    pkg = os.path.dirname(doclayout_yolo_spark.__file__)
    h = hashlib.sha256()
    for name in sorted(os.listdir(pkg)):
        if name.endswith(".py"):
            h.update(name.encode())
            with open(os.path.join(pkg, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def sample(urls, seed: int, stream: int) -> list[str]:
    """A seeded sample of ``ORACLE_SAMPLE`` urls (all when fewer)."""
    pool = sorted(urls)
    rng = np.random.default_rng([seed, stream])
    return sorted(rng.choice(pool, min(ORACLE_SAMPLE, len(pool)), replace=False).tolist())


def oracle_rows(pairs: list[tuple[str, bytes]]) -> list[dict]:
    """Pool worker: ``oracle.extract_rows`` on (url, html) pairs."""
    from doclayout_yolo_spark.oracle import extract_rows  # noqa: PLC0415

    return extract_rows(pairs)


def _cached(work: str, key: str, build) -> dict:
    """Build ``<work>/inputs/<key>-<code digest>`` once;
    ``build(tmp_dir) -> meta``.  The directory appears only when
    complete (rename is atomic)."""
    key = f"{key}-{_code_digest()}"
    final = os.path.join(work, "inputs", key)
    meta_path = os.path.join(final, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        meta["cached"] = True
        meta["dir"] = final
        return meta
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    meta["cached"] = False
    meta["dir"] = final
    return meta


def _pool(workers: int) -> ProcessPoolExecutor:
    return ProcessPoolExecutor(workers, mp_context=get_context("spawn"))


def _render_range(pool, start: int, n: int, workers: int) -> pa.Table:
    chunks = [list(c) for c in np.array_split(np.arange(start, start + n), workers * 4)]
    return pa.concat_tables(list(pool.map(_render, chunks)))


def extract_input(work: str, seed: int, workers: int) -> dict:
    """One pages table of ``EXTRACT_PAGES`` seeded pages and the oracle
    rows of its check sample.  Returns ``{"path", "docs", "html_bytes",
    "oracle": [row...], "cached"}``."""

    def build(tmp: str) -> dict:
        with _pool(workers) as pool:
            table = _render_range(pool, _first_index(seed), EXTRACT_PAGES, workers)
            _write_table(table, os.path.join(tmp, "pages"))
            urls = table["url"].to_pylist()
            html = dict(zip(urls, table["html"].to_pylist()))
            pairs = [(u, html[u]) for u in sample(urls, seed, 99)]
            chunks = [pairs[k::workers] for k in range(workers)]
            rows = [r for part in pool.map(oracle_rows, chunks) for r in part]
        with open(os.path.join(tmp, "oracle.json"), "w") as f:
            json.dump(sorted(rows, key=lambda r: r["url"]), f)
        return _summary(table)

    meta = _cached(work, f"extract-n{EXTRACT_PAGES}-s{seed}", build)
    meta["path"] = os.path.join(meta["dir"], "pages")
    with open(os.path.join(meta["dir"], "oracle.json")) as f:
        meta["oracle"] = json.load(f)
    return meta


def _edit_html(html: bytes, rng: np.random.Generator, k: int) -> bytes:
    words = " ".join(rng.choice(["revised", "update", "content", "page", "data"], 8))
    return html.replace(b"</body>", f"<p>Revision {k}: {words}.</p></body>".encode())


def snapshot_inputs(work: str, seed: int, workers: int) -> dict:
    """Snapshot 0 plus ``N_UPDATES`` successive seeded updates.  Returns
    ``{"snapshots": [{"path", "docs", "html_bytes"}...], "updates":
    [{"added", "removed", "changed", "touched_urls"}...], "cached"}``
    where update k turns snapshot k-1 into snapshot k."""

    def build(tmp: str) -> dict:
        start = _first_index(seed)
        with _pool(workers) as pool:
            cur = _render_range(pool, start, SNAPSHOT_PAGES, workers)
        next_index = start + SNAPSHOT_PAGES
        snaps, updates = [], []
        for k in range(N_UPDATES + 1):
            if k:
                rng = np.random.default_rng([seed, k])
                n = cur.num_rows
                n_add = max(1, round(ADD_SHARE * n))
                n_rm = max(1, round(REMOVE_SHARE * n))
                n_ch = max(1, round(CHANGE_SHARE * n))
                pick = rng.choice(n, n_rm + n_ch, replace=False)
                removed, changed = sorted(pick[:n_rm]), sorted(pick[n_rm:])
                htmls = cur["html"].to_pylist()
                for i in changed:
                    htmls[i] = _edit_html(htmls[i], rng, k)
                cur = cur.set_column(
                    cur.schema.get_field_index("html"), "html",
                    pa.array(htmls, pa.binary()),
                )
                urls = cur["url"].to_pylist()
                keep = np.ones(n, dtype=bool)
                keep[removed] = False
                added = _render(list(range(next_index, next_index + n_add)))
                next_index += n_add
                cur = pa.concat_tables([cur.filter(pa.array(keep)), added])
                added_urls = added["url"].to_pylist()
                changed_urls = [urls[i] for i in changed]
                updates.append(
                    {
                        "added": n_add,
                        "removed": n_rm,
                        "changed": n_ch,
                        "touched_urls": sorted(added_urls + changed_urls),
                    }
                )
            path = os.path.join(tmp, f"snap{k}")
            _write_table(cur, path)
            snaps.append(_summary(cur))
        return {"snapshots": snaps, "updates": updates}

    meta = _cached(work, f"snapshots-n{SNAPSHOT_PAGES}-u{N_UPDATES}-s{seed}", build)
    for k, snap in enumerate(meta["snapshots"]):
        snap["path"] = os.path.join(meta["dir"], f"snap{k}")
    return meta
