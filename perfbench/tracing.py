"""Spans and layer wrappers for traced runs.

``install`` swaps the names a module looked up (``pipeline.parse_elements``,
``recipes.minhash_signatures``, ``Checkpoint.commit``, ...) for wrappers
in this process only, before the first traced op; ``uninstall`` puts the
originals back. A layer wrapper does two things:

  * it times the call itself — the driver-side plan build (plus any
    action the layer runs while planning, such as J1's hot-cell count;
    jobs started in the call carry the layer's description);
  * it persists and counts the returned frame under a span with the job
    description set to the layer, recording ``exec_s`` and ``rows_out``.
    Inputs were materialized by the wrapper upstream, so this is the
    layer's self time.

Calls that run Spark jobs inside the call (checkpoint writes, the
connected-components sweep loop) are wrapped with ``eager=True``: their
whole call time is execution, not plan build.

Spans (name, start, end, parent, run id) stay in memory and are dumped
as JSON when the run ends.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame


class Tracer:
    def __init__(self, spark, run_id: str, persist_level):
        self.spark = spark
        self.run_id = run_id
        self.level = persist_level
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.values: dict[str, float] = defaultdict(float)
        self._undo: list[tuple[object, str, object]] = []
        self._descs: list[str] = []
        self.frames: dict[str, DataFrame] = {}

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "id": len(self.spans),
            "child_s": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self._stack[-1]["child_s"] += rec["dur_s"]

    def add(self, key: str, value: float) -> None:
        self.values[key] += value

    def _describe(self, desc: str | None) -> None:
        self.spark.sparkContext.setJobDescription(desc)

    @contextmanager
    def described(self, desc: str):
        """Attribute the jobs started inside to ``desc``, then restore
        the enclosing description."""
        self._descs.append(desc)
        self._describe(desc)
        try:
            yield
        finally:
            self._descs.pop()
            self._describe(self._descs[-1] if self._descs else None)

    def materialize(self, desc: str, df: DataFrame) -> tuple[DataFrame, int]:
        with self.span(f"{desc}:exec") as rec, self.described(desc):
            df = df.persist(self.level)
            n = df.count()
        self.add(f"{desc}.exec_s", rec["dur_s"])
        self.add(f"{desc}.rows_out", n)
        self.frames[desc] = df
        return df, n

    def wrap(self, desc: str, fn, eager: bool = False, materialize: bool | None = None):
        tracer = self
        materialize = not eager if materialize is None else materialize

        def traced(*args, **kwargs):
            with tracer.span(f"{desc}:call") as rec, tracer.described(desc):
                res = fn(*args, **kwargs)
            tracer.add(f"{desc}.exec_s" if eager else "pipeline.plan_build_s", rec["dur_s"] - rec["child_s"])
            if not materialize:
                return res
            if isinstance(res, DataFrame):
                return tracer.materialize(desc, res)[0]
            if isinstance(res, tuple) and all(isinstance(r, DataFrame) for r in res):
                return tuple(tracer.materialize(desc, r)[0] for r in res)
            return res

        traced.__wrapped__ = fn
        return traced

    def install(self, owner, name: str, desc: str, fn=None, **kw) -> None:
        """Replace ``owner.name`` with a wrapper of ``fn`` (default: the
        current attribute)."""
        orig = getattr(owner, name)
        self._undo.append((owner, name, orig))
        setattr(owner, name, self.wrap(desc, fn or orig, **kw))

    def uninstall(self) -> None:
        while self._undo:
            owner, name, orig = self._undo.pop()
            setattr(owner, name, orig)

    def dump(self) -> list[dict]:
        return [{k: v for k, v in s.items() if k != "child_s"} for s in self.spans]


# pipeline module name -> layer (layer names follow the operator modules)
PIPELINE_LAYERS = {
    "parse_elements": "parse",
    "parse_media": "parse",
    "fan_out_checks": "fanout",
    "filter_should_not_discuss": "gates",
    "split_open_changesets": "gates",
    "apply_user_gates": "gates",
    "filter_priority": "dedup",
    "duplicates_stage": "duplicates",
    "place_not_in_area_stage": "place",
    "place_mistype_stage": "place",
    "street_names_stage": "streets",
    "filter_guilty": "guilt",
    "compose_reports": "report",
    "raster_vector_overlap": "tiles.overlap",
}


def install_pipeline(tracer: Tracer) -> None:
    from osm_addr_bot_spark import pipeline
    from osm_addr_bot_spark.state import checkpoint

    for name, layer in PIPELINE_LAYERS.items():
        tracer.install(pipeline, name, layer)
    # the hourly sinks never read the tile assignment, so only its plan
    # build is timed; persisting it would time work the program skips
    tracer.install(pipeline, "assign_tiles", "tiles", materialize=False)
    tracer.install(checkpoint.StageRunner, "run", "checkpoint.stage_write", eager=True)
    tracer.install(checkpoint, "partition_lineage", "checkpoint.lineage", eager=True)
    tracer.install(checkpoint.Checkpoint, "commit", "checkpoint.commit", eager=True)
    tracer.install(checkpoint.Checkpoint, "read_rescheduled", "checkpoint.backlog", eager=True, materialize=True)


def install_corpus(tracer: Tracer) -> None:
    from osm_addr_bot_spark.datapipe import dedup, recipes, text

    tracer.install(recipes, "corpus_dedup_keep", "datapipe.recipes.keep")
    tracer.install(recipes, "minhash_signatures", "datapipe.dedup.minhash")
    tracer.install(recipes, "lsh_candidate_pairs", "datapipe.dedup.lsh")
    tracer.install(dedup, "simhash", "datapipe.dedup.simhash")
    tracer.install(dedup, "simhash_near_pairs", "datapipe.dedup.simhash_pairs")
    tracer.install(dedup, "ngram_jaccard_pairs", "datapipe.dedup.ngram")
    tracer.install(text, "winnow_fingerprints", "datapipe.text.winnow")
    tracer.install(text, "winnow_overlap_pairs", "datapipe.text.winnow_pairs")

    components = recipes.connected_components

    def components_with_sweeps(pairs, **kwargs):
        stats = kwargs.setdefault("stats", {})
        res = components(pairs, **kwargs)
        tracer.add("datapipe.dedup.components.sweeps", stats.get("sweeps", 0))
        return res

    tracer.install(
        recipes, "connected_components", "datapipe.dedup.components", fn=components_with_sweeps, eager=True
    )
