"""One pass of each workload through the engine's public entry points, the
way the CLI (``python -m dedup_domains_spark``) wires them, plus the traced
passes that time every layer separately.

The traced code pass runs the program's own ``run_pipeline``. For that pass
only, the layer functions ``run_pipeline`` calls are replaced, in the
modules it looks them up in, by wrappers that run each call under
``setJobGroup(<layer>)`` and a span, and cache and count its output. So the
wiring between layers is the program's, and only the per-layer
materialization is added. A layer function the program no longer calls, or
no longer has, reports zeros instead of failing the run.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time

from pyspark.sql import DataFrame

from perfbench.telemetry import Tracer, python_worker_cpu_s

PASSTHROUGH = "lang = 'binary'"   # the CLI default routing predicate
OUT_EXT = ".pruned"

CODE_LAYERS = ("code_corpus", "exact_dedup", "signatures", "lsh", "verify",
               "containment", "connected_components", "representative")
DNSBL_LAYERS = ("dnsbl", "domain_mode", "regex_kill")
# layers whose Python-worker CPU is reported (the UDF-heavy ones)
PY_LAYERS = ("signatures", "containment", "regex_kill")

_PIPELINE = "dedup_domains_spark.plans.pipeline"
_CONTAINMENT = "dedup_domains_spark.operators.containment"
# (module, function, layer): the functions run_pipeline calls, by the name
# it calls them under. collect_probe_filter is imported inside run_pipeline
# at call time, so it is replaced in its own module.
PIPELINE_CALLS = (
    (_PIPELINE, "with_row_identity", "code_corpus"),
    (_PIPELINE, "exact_dedup", "exact_dedup"),
    (_PIPELINE, "add_signatures", "signatures"),
    (_PIPELINE, "fused_candidate_pairs", "lsh"),
    (_PIPELINE, "verify_pairs_estimate", "verify"),
    (_PIPELINE, "verify_pairs_exact", "verify"),
    (_CONTAINMENT, "collect_probe_filter", "containment"),
    (_PIPELINE, "contained_pairs", "containment"),
    (_PIPELINE, "connected_components", "connected_components"),
    (_PIPELINE, "elect_representatives", "representative"),
)


# ---------------------------------------------------------------------------
# untraced passes (what the CLI runs)
# ---------------------------------------------------------------------------

def code_pass(spark, source: str, out_dir: str, cfg) -> dict:
    """load_code_corpus → run_pipeline → write_results. Returns
    {"call_s", "exec_s", "manifest"}: call_s is the run_pipeline call,
    exec_s the sink that materializes its lazy outputs."""
    from dedup_domains_spark.plans.pipeline import run_pipeline
    from dedup_domains_spark.sources.code_corpus import load_code_corpus
    from dedup_domains_spark.sources.sinks import write_results

    t0 = time.perf_counter()
    corpus = load_code_corpus(spark, source)
    res = run_pipeline(spark, corpus, cfg, passthrough_predicate=PASSTHROUGH)
    t1 = time.perf_counter()
    manifest = write_results(res, out_dir, config_hash=cfg.config_hash())
    return {"call_s": t1 - t0, "exec_s": time.perf_counter() - t1,
            "manifest": manifest}


def dnsbl_pass(spark, feeds: list[str], out_dir: str) -> dict:
    """The ``dnsbl --prune-regex --method c`` CLI path."""
    from dedup_domains_spark.operators.domain_mode import dedup_dnsbl
    from dedup_domains_spark.operators.regex_kill import collect_patterns, regex_kill
    from dedup_domains_spark.sources.dnsbl import load_dnsbl_files
    from dedup_domains_spark.sources.sinks import write_survivor_text_files

    t0 = time.perf_counter()
    df = load_dnsbl_files(spark, feeds)
    res = dedup_dnsbl(df)
    survivors = regex_kill(res.survivors, collect_patterns(df))
    t1 = time.perf_counter()
    n = write_survivor_text_files(survivors, feeds, out_dir, OUT_EXT, ("linenumber",))
    return {"call_s": t1 - t0, "exec_s": time.perf_counter() - t1, "survivors": n}


# ---------------------------------------------------------------------------
# traced passes
# ---------------------------------------------------------------------------

def _frame(out):
    """The DataFrame a layer call returned: the value itself, or the
    ``cluster_map`` of a result object (exact_dedup); None otherwise."""
    if isinstance(out, DataFrame):
        return out
    cm = getattr(out, "cluster_map", None)
    return cm if isinstance(cm, DataFrame) else None


def _cache_count(out):
    df = _frame(out)
    return None if df is None else df.cache().count()


class LayerRecorder:
    """Runs layer calls as (call, materialize) under the layer's job group
    and span. Per layer it sums call_s, exec_s and Python-worker CPU over
    its calls and keeps the rows of the last output it counted."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.layers: dict[str, dict] = {}
        self.ratios: dict[str, float] = {}
        # frames counted after the pass, outside its timed region
        self.deferred: dict[str, DataFrame] = {}
        self._group = "pass"

    @contextlib.contextmanager
    def scope(self, name: str):
        """A span and job group ``name``; the enclosing group is restored."""
        outer = self._group
        self._group = name
        self.sc.setJobGroup(name, name)
        try:
            with self.tracer.span(name):
                yield
        finally:
            self._group = outer
            self.sc.setJobGroup(outer, outer)

    def run(self, name: str, call, materialize):
        """call() builds the layer's output (driver time, may run jobs);
        materialize(out) runs the action and returns rows out, or None when
        there is no frame to count."""
        rec = self.layers.setdefault(name, {"call_s": 0.0, "exec_s": 0.0, "rows_out": 0})
        cpu0 = python_worker_cpu_s() if name in PY_LAYERS else 0.0
        with self.scope(name):
            t0 = time.perf_counter()
            out = call()
            t1 = time.perf_counter()
            rows = materialize(out)
            t2 = time.perf_counter()
        rec["call_s"] += t1 - t0
        rec["exec_s"] += t2 - t1
        if rows is not None:
            rec["rows_out"] = rows
        if name in PY_LAYERS:
            rec["python_cpu_s"] = rec.get("python_cpu_s", 0.0) + python_worker_cpu_s() - cpu0
        return out

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.run(layer, lambda: fn(*args, **kwargs), _cache_count)
        return traced

    def _keep(self, key: str, fn):
        @functools.wraps(fn)
        def kept(*args, **kwargs):
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                self.deferred[key] = out
            return out
        return kept

    @contextlib.contextmanager
    def patched(self, calls):
        """Replace each (module, function, layer) that exists by its traced
        wrapper, and keep the containment candidates for a later count;
        restore everything on exit."""
        targets = [(m, f, functools.partial(self._wrap, layer)) for m, f, layer in calls]
        targets.append((_CONTAINMENT, "containment_candidates",
                        functools.partial(self._keep, "containment.candidates")))
        saved = []
        try:
            for mod_name, attr, make in targets:
                mod = importlib.import_module(mod_name)
                fn = getattr(mod, attr, None)
                if fn is None:
                    continue
                saved.append((mod, attr, fn))
                setattr(mod, attr, make(fn))
            yield
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)

    def rows(self, layer: str) -> int:
        return self.layers.get(layer, {}).get("rows_out", 0)

    def finish_code(self, manifest: dict) -> None:
        """Useful-over-attempted ratios from the rows each layer produced.
        Runs after the pass, under job group ``trace-ratios``."""
        def share(num, den):
            return num / den if den else 0.0

        docs, cand = self.rows("signatures"), self.rows("lsh")
        self.ratios["exact_dedup.rep_share"] = share(docs, self.rows("exact_dedup"))
        self.ratios["lsh.pairs_per_doc"] = share(cand, docs)
        self.ratios["verify.accept_share"] = share(self.rows("verify"), cand)
        self.ratios["connected_components.iterations"] = (
            manifest.get("metrics", {}).get("cc_iterations", 0))
        cc = self.deferred.get("containment.candidates")
        if cc is not None:
            self.sc.setJobGroup("trace-ratios", "trace-ratios")
            self.ratios["containment.accept_share"] = share(
                self.rows("containment"), cc.count())
            self.sc.setJobGroup(self._group, self._group)


def traced_code_pass(spark, source: str, out_dir: str, cfg,
                     rec: LayerRecorder) -> dict:
    """code_pass with every layer call inside run_pipeline traced."""
    from dedup_domains_spark.plans.pipeline import run_pipeline
    from dedup_domains_spark.sources.code_corpus import load_code_corpus
    from dedup_domains_spark.sources.sinks import write_results

    written: dict = {}

    def _write(res):
        written.update(write_results(res, out_dir, config_hash=cfg.config_hash()))
        return written.get("metrics", {}).get("survivors", 0)

    with rec.tracer.span("pass"):
        corpus = rec.run("code_corpus", lambda: load_code_corpus(spark, source),
                         lambda _: None)
        with rec.patched(PIPELINE_CALLS), rec.scope("pipeline"):
            res = run_pipeline(spark, corpus, cfg, passthrough_predicate=PASSTHROUGH)
        rec.run("sinks", lambda: res, _write)
    return written


def traced_dnsbl_pass(spark, feeds: list[str], out_dir: str,
                      rec: LayerRecorder) -> int:
    """dnsbl_pass with each of its four calls materialized in turn."""
    from dedup_domains_spark.operators.domain_mode import dedup_dnsbl
    from dedup_domains_spark.operators.regex_kill import collect_patterns, regex_kill
    from dedup_domains_spark.sources.dnsbl import load_dnsbl_files
    from dedup_domains_spark.sources.sinks import write_survivor_text_files

    with rec.tracer.span("pass"):
        df = rec.run("dnsbl", lambda: load_dnsbl_files(spark, feeds), _cache_count)
        survivors = rec.run("domain_mode", lambda: dedup_dnsbl(df).survivors,
                            _cache_count)
        n_in, n_surv = rec.rows("dnsbl"), rec.rows("domain_mode")
        rec.ratios["domain_mode.drop_share"] = 1 - n_surv / max(n_in, 1)
        killed = rec.run("regex_kill",
                         lambda: regex_kill(survivors, collect_patterns(df)),
                         _cache_count)
        rec.ratios["regex_kill.kill_share"] = 1 - rec.rows("regex_kill") / max(n_surv, 1)
        rec.run("sinks", lambda: killed,
                lambda out: write_survivor_text_files(
                    out, feeds, out_dir, OUT_EXT, ("linenumber",)))
    return rec.rows("sinks")
