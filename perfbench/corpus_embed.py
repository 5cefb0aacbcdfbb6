"""``corpus_embed``: the training-data side as one job per pass, four
operations in a closed loop, each started after the previous one
returned: ``curate_corpus`` over a seeded multilingual corpus
(corpus.py), then the ``ann-index``, ``ann-query`` and
``dedup-embeddings`` entry points over seeded clustered vectors
(embed.py). No EDI code runs here.
"""

from __future__ import annotations

from common import ExecStats, Tracer
from corpus import CorpusPart
from edi import summarize_passes
from embed import EmbedPart


class Workload:
    def __init__(self, name: str):
        self.tracer = Tracer()
        self.parts = (CorpusPart(), EmbedPart())
        self.op_wall_s: list[float] = []

    @property
    def params(self) -> dict:
        return {"corpus": self.parts[0].params, "embed": self.parts[1].params,
                "op_wall_s": self.op_wall_s}

    def prepare(self, rng, work: str) -> None:
        for part in self.parts:
            part.prepare(rng, work)

    def warm_up(self, spark) -> dict:
        """One untimed pass over the same inputs."""
        return self.timed_pass(spark)

    def timed_pass(self, spark) -> dict:
        ps = [part.timed_pass(spark) for part in self.parts]
        wall = sum(p["wall"] for p in ps)
        self.op_wall_s = [x for p in ps for x in p["lat"]]
        return {"wall": wall, "lat": [wall],
                "cpu": [sum(x for p in ps for x in p["cpu"])],
                "rows": sum(p["rows"] for p in ps), "jobs": 1,
                "ops": sum(p["jobs"] for p in ps),
                "failed": sum(p["failed"] for p in ps)}

    summarize = staticmethod(summarize_passes)

    def traced(self, spark, untraced_wall: float) -> tuple[dict, dict]:
        stats = ExecStats(spark)
        layer: dict = {}
        ps = [part.traced(spark, self.tracer, stats, layer) for part in self.parts]
        for p in ps:
            for k, v in p["exec"].items():
                layer[k] = layer.get(k, 0.0) + v
        wall = sum(p["wall"] for p in ps)
        layer["trace.untraced_wall_s"] = untraced_wall
        layer["trace.traced_wall_s"] = wall
        layer["trace.overhead_s"] = wall - untraced_wall
        layer["trace.span_coverage"] = sum(p["covered"] for p in ps) / wall
        return layer, {"ops": sum(p["jobs"] for p in ps),
                       "failed": sum(p["failed"] for p in ps)}
