"""EDI job-stream workloads: seeded supplier feeds, job-config messages,
an engine-independent oracle, and the closed-loop consumer.

Every job goes through ``streaming.consumer.process_messages`` one
message at a time: the next message is popped only after the previous
job's sink has returned (one consumer, closed loop — the reference's
one-message-per-process consumer). The readers and the sink handed to
the consumer are the benchmark's own callables, which is where the
traced run puts its read and sink spans.

The oracle never touches Spark: the generator keeps each row's CLEAN
values next to the dirty text it writes, a plain Python fold applies the
merge rules (min / max / addArray / last-write-wins by arrival order), the
null and empty key drop, the multi-source enrich and the supplier/version
stamps, and the sink's files are read back with pyarrow or ``json``.
"""

from __future__ import annotations

import csv
import glob
import json
import os
import sys
from xml.sax.saxutils import escape

import numpy as np

from common import ExecStats, Tracer, median, now, quantile, tree_cpu_s

FEED_COLS = ("UPC", "Qty", "Price", "Title", "Store")
RULES = {
    "upc": "UPC",
    "qty": ["Qty", "max"],
    "price": ["Price", "min"],
    "title": "Title",
    "store": ["Store", "addArray"],
}
MORRIS_RULES = {"upc": "gtin", "qty": ["qty", "max"], "price": ["price", "min"]}

# share of rows whose key is NULL / junk that cleans to '' (both dropped)
NULL_KEY_FRAC = 0.01
JUNK_KEY_FRAC = 0.005

# small-jobs pass: 10 messages in the stream mix (50% CSV, 20% XLSX,
# 10% Morris XML, 10% REST JSONL pages, 10% two-leg multi-source)
SMALL_MIX = ("csv", "xlsx", "csv", "xml", "csv", "jsonl", "csv", "multi",
             "xlsx", "csv")
# a fixed ladder of feed sizes across 1k-5k rows, so every seed's pass does
# the same amount of work and only the data differs
SMALL_ROWS = (1000, 3200, 1400, 4600, 2300, 1900, 5000, 2700, 3700, 4200)
# the four bulk jobs sit at fixed places in the stream
BULK_SLOTS = (2, 5, 9, 12)

# bulk pass: flat and Zipf-skewed keys side by side, the multi-source job
# with a parquet enrich leg, and one merge_strategy=auto job whose salt
# threshold the skewed feed's hottest key crosses
BULK_ROWS = 40_000
BULK_LEG_ROWS = 10_000
BULK_ZIPF_A = 1.2


# --- generation ---------------------------------------------------------------


class Feed:
    """One generated feed: its file and the clean values of every row in
    arrival (file) order. ``raw_key`` is the text the key column carries
    before cleaning (None = empty cell)."""

    def __init__(self, path: str, fmt: str, clean: dict, raw_key: list):
        self.path, self.fmt, self.clean, self.raw_key = path, fmt, clean, raw_key

    @property
    def rows(self) -> int:
        return len(self.raw_key)


def _keys(rng, n: int, n_keys: int, zipf_a: float | None):
    if zipf_a is None:
        return rng.integers(0, n_keys, n)
    return (rng.zipf(zipf_a, n) - 1) % n_keys


def gen_rows(rng, n: int, *, zipf_a: float | None = None, dirty: bool = True,
             dup: int = 3) -> tuple[dict, dict]:
    """Clean values and their dirty text renderings for ``n`` rows.

    Keys repeat (about ``dup`` rows per key, or Zipf-skewed) so every merge
    rule has collisions to resolve. Dirty renderings are chosen so the
    engine's PHP-parity cleaning maps each back to the clean value:
    separators in UPCs, unit suffixes on quantities, decimal commas and
    currency signs on prices, empty cells that clean to 0.
    """
    n_keys = max(1, n // dup)
    base = int(rng.integers(10**10, 9 * 10**10))
    k = _keys(rng, n, n_keys, zipf_a).tolist()
    upc = [f"{base + x:012d}" for x in k]
    u = rng.random(n)
    raw_upc: list = list(upc)
    clean_upc: list = list(upc)
    for i in np.flatnonzero(u < NULL_KEY_FRAC):
        raw_upc[i] = clean_upc[i] = None
    for i in np.flatnonzero((u >= NULL_KEY_FRAC) & (u < NULL_KEY_FRAC + JUNK_KEY_FRAC)):
        raw_upc[i], clean_upc[i] = "--", ""
    if dirty:
        for i in np.flatnonzero((u > 0.8) & (u <= 0.9)):
            s = upc[i]
            raw_upc[i] = f"{s[:4]}-{s[4:8]}-{s[8:]}"
        for i in np.flatnonzero(u > 0.9):
            raw_upc[i] = f" {upc[i]} "

    qty = rng.integers(0, 500, n).tolist()
    cents = rng.integers(1, 100_000, n).tolist()
    vq = rng.random(n).tolist()
    vp = rng.random(n).tolist()
    clean_qty = [0 if a < 0.05 else q for q, a in zip(qty, vq)]
    raw_qty = [None if a < 0.05 else f"{q} pcs" if dirty and a < 0.2 else str(q)
               for q, a in zip(qty, vq)]
    clean_price = [0.0 if b < 0.05 else c / 100 for c, b in zip(cents, vp)]
    raw_price = [
        None if b < 0.05
        else f"{c // 100},{c % 100:02d}" if dirty and b < 0.25
        else f"${c // 100}.{c % 100:02d}" if dirty and b < 0.4
        else f"{c // 100}.{c % 100:02d}"
        for c, b in zip(cents, vp)
    ]
    title = [f"Item {x} rev {r}" for x, r in zip(k, rng.integers(0, 9, n).tolist())]
    store = [f"S{s:02d}" for s in rng.integers(0, 40, n).tolist()]
    raw = {"UPC": raw_upc, "Qty": raw_qty, "Price": raw_price,
           "Title": title, "Store": store}
    clean = {"upc": clean_upc, "qty": clean_qty, "price": clean_price,
             "title": title, "store": store}
    return raw, clean


def write_csv(path: str, raw: dict) -> None:
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(FEED_COLS)
        w.writerows(
            zip(*[["" if v is None else v for v in raw[c]] for c in FEED_COLS])
        )


def write_jsonl(path: str, raw: dict, cols=FEED_COLS) -> None:
    with open(path, "w") as fh:
        for row in zip(*[raw[c] for c in cols]):
            fh.write(json.dumps(dict(zip(cols, row))) + "\n")


def write_xlsx(path: str, raw: dict) -> None:
    """Minimal spec-valid XLSX on stdlib ``zipfile``: inline strings, one
    sheet, empty values left out as missing cells."""
    import zipfile

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rns = 'xmlns="http://schemas.openxmlformats.org/package/2006/relationships"'
    rid = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    letters = "ABCDE"
    rows = [list(FEED_COLS)] + [list(r) for r in zip(*[raw[c] for c in FEED_COLS])]
    body = []
    for ri, row in enumerate(rows, start=1):
        cells = "".join(
            f'<c r="{letters[ci]}{ri}" t="inlineStr"><is><t>{escape(v)}</t></is></c>'
            for ci, v in enumerate(row) if v is not None
        )
        body.append(f'<row r="{ri}">{cells}</row>')
    sheet = (f'<?xml version="1.0"?><worksheet {ns}><sheetData>'
             + "".join(body) + "</sheetData></worksheet>")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("xl/workbook.xml",
                   f'<?xml version="1.0"?><workbook {ns} xmlns:r="{rid}"><sheets>'
                   f'<sheet name="Feed" sheetId="1" r:id="rId1"/></sheets></workbook>')
        z.writestr("xl/_rels/workbook.xml.rels",
                   f'<?xml version="1.0"?><Relationships {rns}><Relationship '
                   f'Id="rId1" Type="{rid}/worksheet" Target="worksheets/sheet1.xml"/>'
                   "</Relationships>")
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def write_morris_xml(path: str, clean: dict) -> None:
    """Morris feed: typed values (no dirty text); missing elements stand
    for empty cells."""
    out = ['<?xml version="1.0"?><feed>']
    for upc, q, p, vq, vp in zip(clean["upc"], clean["qty"], clean["price"],
                                 clean["_has_qty"], clean["_has_price"]):
        parts = ["<available>"]
        if upc is not None:
            parts.append(f"<gtin>{escape(upc)}</gtin>")
        if vq:
            parts.append(f"<qty>{q}</qty>")
        if vp:
            parts.append(f"<detail><price>{p:.2f}</price></detail>")
        parts.append("</available>")
        out.append("".join(parts))
    out.append("</feed>")
    with open(path, "w") as fh:
        fh.write("".join(out))


def make_feed(rng, work: str, name: str, fmt: str, n: int, **kw) -> Feed:
    path = os.path.join(work, f"{name}.{fmt}")
    if fmt == "xml":
        raw, clean = gen_rows(rng, n, dirty=False, **kw)
        clean["_has_qty"] = [v is not None for v in raw["Qty"]]
        clean["_has_price"] = [v is not None for v in raw["Price"]]
        # junk keys do not exist in a typed feed: make them NULL
        clean["upc"] = [None if u == "" else u for u in clean["upc"]]
        write_morris_xml(path, clean)
        return Feed(path, fmt, clean, list(clean["upc"]))
    raw, clean = gen_rows(rng, n, **kw)
    {"csv": write_csv, "jsonl": write_jsonl, "xlsx": write_xlsx}[fmt](path, raw)
    return Feed(path, fmt, clean, raw["UPC"])


def make_leg(rng, work: str, name: str, base: Feed, n: int, fmt: str) -> Feed:
    """Enrichment leg keyed by ``sku``: about half its keys hit the base;
    it carries a fresh ``Title`` that overwrites the base's on a match."""
    hit = [u for u in base.raw_key if u not in (None, "", "--")]
    picks = rng.integers(0, max(1, len(hit)), n)
    miss = rng.random(n) < 0.5
    sku = [f"9{int(rng.integers(10**10, 9 * 10**10)):012d}" if m else hit[int(p)]
           for p, m in zip(picks, miss)]
    for i in np.flatnonzero(rng.random(n) < NULL_KEY_FRAC):
        sku[i] = None
    title = [f"Leg title {int(t)}" for t in rng.integers(0, 10**6, n)]
    path = os.path.join(work, f"{name}.{fmt}")
    if fmt == "jsonl":
        write_jsonl(path, {"sku": sku, "Title": title}, cols=("sku", "Title"))
    else:
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(path)
        pq.write_table(pa.table({"sku": sku, "Title": title}),
                       os.path.join(path, "part-0.parquet"))
    return Feed(path, fmt, {"sku": sku, "title": title}, sku)


# --- oracle -------------------------------------------------------------------


def _fold(rows, morris: bool) -> dict:
    """Keyed merge of (upc, qty, price, title, store) rows in arrival
    order: NULL/'' keys dropped; qty max, price min, title last write
    wins, store appended (addArray)."""
    out: dict = {}
    for upc, qty, price, title, store in rows:
        if not upc:
            continue
        r = out.get(upc)
        if r is None:
            out[upc] = r = {"upc": upc, "qty": qty, "price": price}
            if not morris:
                r["store"] = []
        else:
            r["qty"] = max(r["qty"], qty)
            r["price"] = min(r["price"], price)
        if not morris:
            r["title"] = title
            r["store"].append(store)
    return out


def expected_rows(feed: Feed, leg: Feed | None = None) -> dict:
    """upc -> output row, by the reference's merge semantics."""
    c = feed.clean
    morris = feed.fmt == "xml"
    n = feed.rows
    rows = zip(c["upc"], c["qty"], c["price"], c.get("title", [None] * n),
               c.get("store", [None] * n))
    if leg is None:
        return _fold(rows, morris)
    # multi-source: the base leg keeps its last row per RAW key, the enrich
    # leg its last title per key; a key match overwrites the base title;
    # then the cleaned rows merge by upc in the base rows' arrival order
    last: dict = {}
    for raw, row in zip(feed.raw_key, rows):
        if raw:
            last.pop(raw, None)
            last[raw] = row
    leg_title = {k: t for k, t in zip(leg.clean["sku"], leg.clean["title"]) if k}
    return _fold(((u, q, p, leg_title.get(raw, t), s)
                  for raw, (u, q, p, t, s) in last.items()), morris)


def read_output(path: str, fmt: str) -> list[dict]:
    if fmt == "parquet":
        import pyarrow.parquet as pq

        return pq.read_table(path).to_pylist()
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f) as fh:
            rows.extend(json.loads(line) for line in fh if line.strip())
    return rows


def check_output(path: str, fmt: str, expected: dict, supplier_id: int,
                 version: int) -> bool:
    got = read_output(path, fmt)
    if len(got) != len(expected) or len({r.get("upc") for r in got}) != len(got):
        return False
    for row in got:
        exp = expected.get(row.get("upc"))
        if exp is None:
            return False
        if row.get("supplier_id") != supplier_id or row.get("version") != version:
            return False
        for c, v in exp.items():
            if row.get(c) != v:
                return False
    return True


# --- messages -----------------------------------------------------------------


class Job:
    def __init__(self, msg: dict, rows: int, expected: dict, out: str, sink: str):
        self.msg, self.rows, self.expected, self.out, self.sink = (
            msg, rows, expected, out, sink)
        self.ok = False  # the consumer reported success on the last run

    @property
    def text(self) -> str:
        return json.dumps(self.msg)


_TYPE_IDS = {"csv": (2, 7), "xlsx": (4, 6), "xml": (5,), "jsonl": (8,),
             "parquet": (1,)}


def _type_id(rng, fmt: str) -> int:
    ids = _TYPE_IDS[fmt]
    return int(ids[int(rng.integers(0, len(ids)))])


def small_jobs(rng, work: str, tag: str, supplier0: int, version: int) -> list[Job]:
    """The small-feed jobs of one pass, in stream order."""
    jobs = []
    for i, (kind, n) in enumerate(zip(SMALL_MIX, SMALL_ROWS)):
        sid = supplier0 + i
        name = f"{tag}-{i:02d}-{kind}"
        out = os.path.join(work, "out", name)
        if kind == "multi":
            base = make_feed(rng, work, name + "-base", "csv", n)
            leg = make_leg(rng, work, name + "-leg", base, max(200, n // 4), "jsonl")
            msg = {"supplier_id": sid, "name": name, "type_id": None,
                   "version": version, "column_map_rules": RULES,
                   "source": [
                       {"type_id": _type_id(rng, "csv"), "filename": base.path,
                        "key": "UPC", "fields": list(FEED_COLS)},
                       {"type_id": 8, "filename": leg.path, "key": "sku",
                        "fields": ["Title"]}]}
            jobs.append(Job(msg, base.rows + leg.rows, expected_rows(base, leg),
                            out, "jsonl"))
            continue
        feed = make_feed(rng, work, name, kind, n)
        msg = {"supplier_id": sid, "name": name, "type_id": _type_id(rng, kind),
               "source": feed.path, "version": version,
               "column_map_rules": MORRIS_RULES if kind == "xml" else RULES}
        jobs.append(Job(msg, feed.rows, expected_rows(feed), out, "jsonl"))
    return jobs


def bulk_jobs(rng, work: str, tag: str, supplier0: int, version: int,
              scale: float = 1.0) -> list[Job]:
    n, n_leg = int(BULK_ROWS * scale), int(BULK_LEG_ROWS * scale)
    jobs = []

    def single(i, name, feed, extra=None):
        msg = {"supplier_id": supplier0 + i, "name": name, "type_id": _type_id(rng, "csv"),
               "source": feed.path, "version": version, "column_map_rules": RULES,
               **(extra or {})}
        jobs.append(Job(msg, feed.rows, expected_rows(feed),
                        os.path.join(work, "out", name), "parquet"))

    flat = make_feed(rng, work, f"{tag}-flat", "csv", n, dup=4)
    single(0, f"{tag}-flat", flat)
    skew = make_feed(rng, work, f"{tag}-zipf", "csv", n, zipf_a=BULK_ZIPF_A, dup=4)
    single(1, f"{tag}-zipf", skew)
    hot = max(np.unique([u for u in skew.clean["upc"] if u], return_counts=True)[1])
    # auto routes by the hottest key's row count: a threshold below it
    # sends the skewed feed down the salted two-stage path
    single(2, f"{tag}-zipf-auto", skew,
           {"merge_strategy": "auto", "salt_above": int(max(2, hot // 2))})
    base = make_feed(rng, work, f"{tag}-multi-base", "csv", n, dup=4, dirty=False)
    leg = make_leg(rng, work, f"{tag}-multi-leg", base, n_leg, "parquet")
    name = f"{tag}-multi"
    msg = {"supplier_id": supplier0 + 3, "name": name, "type_id": None,
           "version": version, "column_map_rules": RULES,
           "source": [
               {"type_id": _type_id(rng, "csv"), "filename": base.path,
                "key": "UPC", "fields": list(FEED_COLS)},
               {"type_id": 1, "filename": leg.path, "key": "sku",
                "fields": ["Title"]}]}
    jobs.append(Job(msg, base.rows + leg.rows, expected_rows(base, leg),
                    os.path.join(work, "out", name), "parquet"))
    return jobs


# --- consumer ------------------------------------------------------------------


def _fmt_of(source: str) -> str:
    ext = os.path.splitext(source.rstrip("/"))[1].lstrip(".")
    return ext or "parquet"


class Consumer:
    """Closed-loop, one-consumer loop over ``process_messages``."""

    def __init__(self, spark):
        from etl_edi_data_scrapper_spark import sinks
        from etl_edi_data_scrapper_spark.sources.registry import local_registry
        from etl_edi_data_scrapper_spark.streaming.consumer import process_messages

        self.spark = spark
        self._writers = {"parquet": sinks.write_parquet, "jsonl": sinks.write_jsonl}
        self._base_readers = local_registry()
        self._process = process_messages
        self.tracer: Tracer | None = None
        self.stats: ExecStats | None = None
        self.layer: dict[str, float] = {}
        self._job_span: int | None = None
        self._job_start = 0.0
        self._op = 0
        self._out: dict[int, Job] = {}
        self.coverage: list[float] = []  # per traced job: spans / job span

    # -- callables handed to the consumer --

    def _reader(self, type_id: int):
        base = self._base_readers[type_id]

        def read(spark, source, range_):
            if self.tracer is None:
                return base(spark, source, range_)
            fmt = _fmt_of(source)
            j0 = self.stats.job_count()
            s = self.tracer.open(f"sources.read.{fmt}", self._op, self._job_span)
            try:
                return base(spark, source, range_)
            finally:
                self._acc(f"sources.read_s.{fmt}", self.tracer.close(s))
                self._acc("sources.read_jobs", self.stats.job_count() - j0)

        return read

    def _sink(self, df, cfg) -> None:
        job = self._out[cfg.supplier_id]
        write = self._writers[job.sink]
        if self.tracer is None:
            write(df, job.out)
            return
        t = now()
        self.tracer.add("pipeline.compile", self._job_start, t, self._op, self._job_span)
        self._acc("pipeline.compile_s", t - self._job_start)
        self._acc("pipeline.compile_jobs", self.stats.job_count() - self._jobs0)
        s = self.tracer.open("sinks.write", self._op, self._job_span)
        try:
            write(df, job.out)
        finally:
            self._acc("sinks.write_s", self.tracer.close(s))

    def _acc(self, key: str, v: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + v

    # -- the loop --

    def run_pass(self, jobs: list[Job]) -> dict:
        """Process ``jobs`` in order; returns per-job latencies, rows and
        failures (failed jobs plus jobs whose output is wrong)."""
        readers = {t: self._reader(t) for t in self._base_readers}
        errors: list = []
        lat: list[float] = []
        cpu: list[float] = []
        t_pass = now()
        for job in jobs:
            sid = job.msg["supplier_id"]
            self._out[sid] = job
            text = job.text
            if self.tracer is not None:
                from etl_edi_data_scrapper_spark.plans.config import InputConfig

                p0 = now()
                InputConfig.from_message(text)
                self._acc("config.parse_s", now() - p0)
                self._jobs0 = self.stats.job_count()
                self._job_span = self.tracer.open("streaming.consumer.job", self._op)
                covered0 = (self.layer.get("pipeline.compile_s", 0.0)
                            + self.layer.get("sinks.write_s", 0.0))
            c0 = tree_cpu_s()
            self._job_start = t0 = now()
            ok = self._process(self.spark, [text], readers, self._sink,
                               on_error=lambda m, e: errors.append((m, e)))
            dt = now() - t0
            lat.append(dt)
            cpu.append(tree_cpu_s() - c0)
            if self.tracer is not None:
                self.tracer.close(self._job_span)
                self._acc("consumer.job_s", dt)
                self.coverage.append((self.layer.get("pipeline.compile_s", 0.0)
                                      + self.layer.get("sinks.write_s", 0.0)
                                      - covered0) / dt)
                for k, v in self.stats.since_mark().items():
                    self._acc(k, v)
                self._op += 1
            job.ok = ok == 1
        wall = now() - t_pass
        failed = 0
        for job in jobs:
            if not job.ok or not check_output(
                job.out, job.sink, job.expected, job.msg["supplier_id"],
                job.msg["version"],
            ):
                failed += 1
        for m, e in errors:
            print(f"job failed: {json.loads(m).get('name')}: {e!r}"[:400],
                  file=sys.stderr)
        return {"wall": wall, "lat": lat, "cpu": cpu,
                "rows": sum(j.rows for j in jobs), "jobs": len(jobs), "failed": failed}


def summarize_passes(passes: list[dict]) -> dict:
    """End-to-end metrics of the timed passes. CPU seconds cover the
    Python driver, the JVM and its Python workers; wall-clock figures are
    reported beside them."""
    lat = [x for p in passes for x in p["lat"]]
    cpu = [x for p in passes for x in p["cpu"]]
    total = sum(p["wall"] for p in passes)
    pass_cpu = median([sum(p["cpu"]) for p in passes])
    return {
        "cpu_s": pass_cpu,
        "rows_per_cpu_s": passes[0]["rows"] / pass_cpu,
        "job_cpu_p50_s": quantile(cpu, 0.5),
        "job_cpu_p95_s": quantile(cpu, 0.95),
        "wall_s": median([p["wall"] for p in passes]),
        "rows_per_s": sum(p["rows"] for p in passes) / total,
        "jobs_per_s": sum(p["jobs"] for p in passes) / total,
        "job_latency_p50_s": quantile(lat, 0.5),
        "job_latency_p95_s": quantile(lat, 0.95),
        "n_jobs": len(lat),
    }


class Workload:
    """``edi_jobs``: one closed-loop stream mixing many small feeds (JSONL
    sink) with a few bulk merge feeds (parquet sink)."""

    def __init__(self, name: str):
        self.tracer = Tracer()
        self.params: dict = {}

    def prepare(self, rng, work: str) -> None:
        os.makedirs(os.path.join(work, "out"))
        version = int(rng.integers(1, 1000))
        jobs = small_jobs(rng, work, "job", 2000, version)
        bulk = bulk_jobs(rng, work, "bulk", 2100, version)
        for slot, job in zip(BULK_SLOTS, bulk):
            jobs.insert(slot, job)
        self.jobs = jobs
        # warm-up: the same small jobs, and bulk jobs of the same shapes at
        # a twentieth of the rows (plan shapes, not sizes, drive JIT/codegen)
        self.warm = [j for j in jobs if j.sink == "jsonl"] + bulk_jobs(
            rng, work, "warm-bulk", 3100, version, scale=0.05)
        self.params = {
            "small_mix": list(SMALL_MIX), "small_rows": list(SMALL_ROWS),
            "bulk_rows_per_feed": BULK_ROWS, "bulk_leg_rows": BULK_LEG_ROWS,
            "bulk_zipf_a": BULK_ZIPF_A,
            "bulk_merge_strategies": [j.msg.get("merge_strategy", "plain") for j in bulk],
            "bulk_salt_above": [j.msg.get("salt_above") for j in bulk],
            "order": [j.msg["name"] for j in jobs],
            "jobs_per_pass": len(jobs),
            "rows_per_pass": sum(j.rows for j in jobs),
            "bulk_rows_per_pass": sum(j.rows for j in bulk),
            "null_key_frac": NULL_KEY_FRAC, "junk_key_frac": JUNK_KEY_FRAC,
            "version": version,
        }

    def warm_up(self, spark) -> dict:
        """One untimed run of the same job list: JIT, codegen and the
        Python workers are warm before the timed passes."""
        self.consumer = Consumer(spark)
        return self.consumer.run_pass(self.warm)

    def timed_pass(self, spark) -> dict:
        return self.consumer.run_pass(self.jobs)

    summarize = staticmethod(summarize_passes)

    def traced(self, spark, untraced_wall: float) -> tuple[dict, dict]:
        c = self.consumer
        c.tracer, c.stats, c.layer = self.tracer, ExecStats(spark), {}
        p = c.run_pass(self.jobs)
        c.tracer = None
        layer = dict(c.layer)
        job_s = layer.get("consumer.job_s", 0.0)
        layer["consumer.job_overhead_s"] = job_s - layer.get("sinks.write_s", 0.0)
        layer["trace.span_coverage"] = (
            layer.get("pipeline.compile_s", 0.0) + layer.get("sinks.write_s", 0.0)
        ) / job_s
        layer["trace.span_coverage_min"] = min(c.coverage)
        layer["trace.untraced_wall_s"] = untraced_wall
        layer["trace.traced_wall_s"] = p["wall"]
        layer["trace.overhead_s"] = p["wall"] - untraced_wall
        return layer, p
