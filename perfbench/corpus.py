"""``corpus_curate``: a seeded multilingual corpus through
``plans.curate.curate_corpus`` with the default stages and a parquet sink.

The corpus has newlines in every document (the c4 and linedup stages need
lines), five languages (the quality stage's language ID), injected exact
and near duplicates (exact, minhash) and boilerplate lines shared across
documents (linedup, spans).

Checks, none of which use Spark: exactly one verdict row per document id;
``is_exact_dup`` equal to the exact-duplicate groups the generator
injected (lowest id canonical); and a digest of every verdict column that
stays the same across passes of a run and between the lazy and the
restartable (``stage_dir``) forms of the plan.
"""

from __future__ import annotations

import hashlib
import os
import re
import time

import numpy as np

from common import CURATE_STAGES, ExecStats, Tracer, now, tree_cpu_s

N_DOCS = 240
EXACT_DUP_FRAC = 0.05
NEAR_DUP_FRAC = 0.05
BOILERPLATE_LINES = 12

_STOP = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es": ("el", "la", "los", "las", "y", "es", "en", "un"),
    "zh": ("的", "是", "在", "了", "和", "有", "我", "不"),
}
_SYLL = ("ka", "lo", "mi", "ren", "sta", "vo", "tri", "pen", "dor", "lu", "ne",
         "sa", "qui", "ber", "gon", "fal")
_ZH = "数据中心系统处理文本模型语言市场价格公司产品服务时间工作问题"


def _vocab(rng, lang: str, n: int = 400) -> list[str]:
    if lang == "zh":
        return ["".join(rng.choice(list(_ZH), int(rng.integers(1, 3))))
                for _ in range(n)]
    return ["".join(rng.choice(_SYLL, int(rng.integers(2, 4)))) for _ in range(n)]


def _sentence(rng, lang: str, vocab: list[str]) -> str:
    words = []
    for _ in range(int(rng.integers(8, 18))):
        pool = _STOP[lang] if rng.random() < 0.35 else vocab
        words.append(pool[int(rng.integers(0, len(pool)))])
    s = " ".join(words)
    return s[0].upper() + s[1:] + ("。" if lang == "zh" else ".")


def make_corpus(rng, n: int) -> tuple[list[int], list[str], dict]:
    langs = list(_STOP)
    vocab = {lang: _vocab(rng, lang) for lang in langs}
    boiler = [_sentence(rng, "en", vocab["en"]) for _ in range(BOILERPLATE_LINES)]
    # fixed counts (only positions and content are seeded): every seed's
    # corpus carries the same duplicate load and language mix
    n_exact, n_near = int(n * EXACT_DUP_FRAC), int(n * NEAR_DUP_FRAC)
    pos = rng.choice(np.arange(10, n), n_exact + n_near, replace=False)
    kind = dict.fromkeys(pos[:n_exact].tolist(), "exact")
    kind.update(dict.fromkeys(pos[n_exact:].tolist(), "near"))
    doc_langs = [langs[i % len(langs)] for i in rng.permutation(n)]
    texts: list[str] = []
    for i in range(n):
        if kind.get(i) == "exact":
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if kind.get(i) == "near":
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(2):
                words[int(rng.integers(0, len(words)))] = "zz"
            texts.append(" ".join(words))
            continue
        lang = doc_langs[i]
        lines = [_sentence(rng, lang, vocab[lang])
                 for _ in range(int(rng.integers(3, 9)))]
        for _ in range(int(rng.integers(0, 3))):
            lines.insert(int(rng.integers(0, len(lines) + 1)),
                         boiler[int(rng.integers(0, len(boiler)))])
        texts.append("\n".join(lines))
    ids = [int(x) for x in rng.permutation(n * 4)[:n]]
    return ids, texts, {"exact": n_exact, "near": n_near}


def expected_exact_dups(ids: list[int], texts: list[str]) -> set[int]:
    """Higher ids of each group of equal texts, under the exact stage's
    documented normalization (lowercase, runs of anything but ASCII
    letters and digits to one space, trim). That normalization is
    ASCII-only, so documents with no ASCII word at all (the zh share of
    the corpus) all fingerprint alike and all but the lowest id drop."""
    first: dict[str, int] = {}
    keys = [re.sub(r"[^a-z0-9]+", " ", t.lower()).strip() for t in texts]
    for i, k in zip(ids, keys):
        first[k] = min(i, first.get(k, i))
    return {i for i, k in zip(ids, keys) if first[k] != i}


def read_verdicts(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def verdict_digest(rows: list[dict]) -> str:
    """Digest of every boolean verdict column, by document id."""
    cols = sorted(k for k in rows[0] if k.endswith("_keep") or k.startswith("is_"))
    h = hashlib.sha256(",".join(cols).encode())
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        h.update(repr((r["doc_id"], *[r[c] for c in cols])).encode())
    return h.hexdigest()


class CorpusPart:
    """The curation half of ``corpus_embed``: one job = one
    ``curate_corpus`` call and its parquet sink."""

    def __init__(self):
        self.params: dict = {}
        self.digest: str | None = None
        self.tracer: Tracer | None = None

    def prepare(self, rng, work: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.work = work
        ids, texts, kinds = make_corpus(rng, N_DOCS)
        self.ids = set(ids)
        self.exact = expected_exact_dups(ids, texts)
        self.docs_path = os.path.join(work, "docs")
        os.makedirs(self.docs_path)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
                       os.path.join(self.docs_path, "part-0.parquet"))
        self.params = {"docs": N_DOCS, "languages": list(_STOP),
                       "exact_dups": kinds["exact"], "near_dups": kinds["near"],
                       "exact_dups_after_normalization": len(self.exact),
                       "boilerplate_lines": BOILERPLATE_LINES,
                       "stages": list(CURATE_STAGES), "sink": "parquet"}

    def _curate(self, spark, out: str, stage_dir: str | None = None,
                parent: int | None = None) -> float:
        from etl_edi_data_scrapper_spark import sinks
        from etl_edi_data_scrapper_spark.plans.curate import curate_corpus

        tr = self.tracer
        docs = spark.read.parquet(self.docs_path)
        t0 = now()
        if tr:
            j0 = self.stats.job_count()
            b = tr.open("plans.curate.build", 0, parent)
        verdicts = curate_corpus(spark, docs, stage_dir=stage_dir)
        if tr:
            self._add("curate.build_s", tr.close(b))
            j1 = self.stats.job_count()
            self._add("curate.build_jobs", j1 - j0)
            e = tr.open("sinks.write", 0, parent)
        sinks.write_parquet(verdicts, out)
        if tr:
            dt = tr.close(e)
            self._add("curate.exec_s", dt)
            self._add("sinks.write_s", dt)
            self._add("curate.exec_jobs", self.stats.job_count() - j1)
        return now() - t0

    def _add(self, k: str, v: float) -> None:
        self.layer[k] = self.layer.get(k, 0.0) + v

    def _check(self, out: str) -> bool:
        rows = read_verdicts(out)
        ids = [r["doc_id"] for r in rows]
        if len(ids) != len(self.ids) or set(ids) != self.ids:
            return False
        if {r["doc_id"] for r in rows if r["is_exact_dup"]} != self.exact:
            return False
        digest = verdict_digest(rows)
        if self.digest is None:
            self.digest = digest
            self.params["verdict_digest"] = digest
        return digest == self.digest

    def timed_pass(self, spark) -> dict:
        out = os.path.join(self.work, "out")
        c0 = tree_cpu_s()
        dt = self._curate(spark, out)
        cpu = tree_cpu_s() - c0
        return {"wall": dt, "lat": [dt], "cpu": [cpu], "rows": N_DOCS, "jobs": 1,
                "failed": 0 if self._check(out) else 1}

    def traced(self, spark, tracer: Tracer, stats: ExecStats, layer: dict) -> dict:
        """One traced lazy job (its spans count toward coverage), then the
        restartable ``stage_dir`` form, whose stage ``_SUCCESS`` times give
        the per-stage split."""
        self.tracer, self.stats, self.layer = tracer, stats, layer
        out = os.path.join(self.work, "out")
        job = tracer.open("plans.curate.job", 0)
        lazy = self._curate(spark, out, parent=job)
        tracer.close(job)
        failed = 0 if self._check(out) else 1
        covered = layer["curate.build_s"] + layer["curate.exec_s"]
        lazy_exec = stats.since_mark()
        self.tracer = None

        stage_dir = os.path.join(self.work, "stages")
        wall0 = time.time()
        staged = self._curate(spark, out + "-staged", stage_dir=stage_dir)
        prev = wall0
        for stage in CURATE_STAGES:
            done = os.path.getmtime(os.path.join(stage_dir, f"{stage}.parquet", "_SUCCESS"))
            layer[f"curate.stage_s.{stage}"] = done - prev
            prev = done
        failed += 0 if self._check(out + "-staged") else 1
        layer["curate.restartable_s"] = staged
        layer["curate.restartable_gap_s"] = staged - lazy
        stats.mark()  # the restartable run is not part of the traced pass
        return {"wall": lazy, "covered": covered, "jobs": 2, "failed": failed,
                "exec": lazy_exec}
