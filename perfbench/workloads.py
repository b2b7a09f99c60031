"""The benchmark's workloads: inputs, the timed linkage call, output checks,
and the traced replay of each layer.

Every workload talks to the package through its public modules only. The
truth tables never reach the program: F1 and the other checks are computed
here from the pairs the call returns.
"""

from __future__ import annotations

import hashlib
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

import numpy as np
import pandas as pd

import gen
from tracer import Tracer, interpose

LAYERS = ("blocking", "comparison", "fit", "selection", "clustering", "checkpoint")


def pair_set(pdf: pd.DataFrame) -> set[tuple[int, int]]:
    return set(zip(pdf["a"].astype(np.int64).tolist(),
                   pdf["b"].astype(np.int64).tolist()))


def pairs_sha256(pairs: set[tuple[int, int]]) -> str:
    h = hashlib.sha256()
    for a, b in sorted(pairs):
        h.update(f"{a},{b}\n".encode())
    return h.hexdigest()


def pairwise_f1(pred: set, truth: set) -> float:
    tp = len(pred & truth)
    if tp == 0:
        return 0.0
    precision, recall = tp / len(pred), tp / len(truth)
    return 2 * precision * recall / (precision + recall)


@dataclass
class Outcome:
    """What one linkage call produced, as the checks and metrics need it."""
    pairs: set[tuple[int, int]]
    n_candidates: int
    result: Any = None                       # the package's result object
    extra: dict[str, Any] = field(default_factory=dict)


# ------------------------------------------------------------ workloads --

class Workload:
    """One seeded input family and the public call that links it."""

    name: str
    #: layer charged with the call's own code between the interposed layers
    call_layer: str
    #: the string column the comparison replay scores with Jaro-Winkler
    string_col: str
    #: environment the package must see before it is imported
    env: dict[str, str] = {}

    def generate(self, seed: int) -> dict[str, pd.DataFrame]:
        """The inputs of ``seed``."""
        raise NotImplementedError

    def call(self, spark, dfs, workdir: Path) -> Outcome:
        raise NotImplementedError

    def checks(self, frames, out: Outcome) -> list[str]:
        """Cheap checks made on every call's output."""
        return []

    def deep_checks(self, spark, dfs, out: Outcome, workdir: Path) -> list[str]:
        """Checks that launch Spark jobs, made once per run, untimed."""
        return []

    def fit_result(self, out: Outcome):
        return out.result

    def candidates(self, spark, dfs, workdir: Path):
        from automatedreclin_spark.operators.pairs import block_pairs
        return block_pairs(dfs["A"], dfs["B"], dedup=False).select("a", "b")


class FilesLink(Workload):
    """``pipeline.link_repo_files`` on a seeded repo-file corpus of the
    paper's 500 x 1000 simulation size."""

    name = "files_link"
    call_layer = "pipeline"
    string_col = "path"
    n_a, n_b = 500, 1000

    def generate(self, seed: int) -> dict[str, pd.DataFrame]:
        a, b, truth = gen.files_corpus(seed, self.n_a, self.n_b)
        return {"A": a, "B": b, "truth": truth}

    def call(self, spark, dfs, workdir: Path) -> Outcome:
        from automatedreclin_spark.pipeline import link_repo_files
        run = link_repo_files(spark, dfs["A"], dfs["B"], str(workdir / "ck"))
        pdf = run.matches.select("a", "b").toPandas()
        return Outcome(pair_set(pdf), int(run.candidate_pairs), run)

    def checks(self, frames, out: Outcome) -> list[str]:
        f1 = pairwise_f1(out.pairs, pair_set(frames["truth"]))
        return [] if f1 >= 0.99 else [f"pairwise F1 {f1:.4f} < 0.99"]

    def deep_checks(self, spark, dfs, out: Outcome, workdir: Path) -> list[str]:
        """Content invariant on both sides, and resumed equals fresh."""
        from automatedreclin_spark.pipeline import verify_content_invariant
        problems = []
        for side, key, src in ((0, "a", dfs["A"]), (1, "b", dfs["B"])):
            bad = verify_content_invariant(out.result.entities, src, key, side)
            if bad:
                problems.append(f"{bad} content-invariant violations on side {side}")
        if self.resume(spark, dfs, workdir) != out.pairs:
            problems.append("resumed matches differ from the fresh run")
        return problems

    def resume(self, spark, dfs, workdir: Path) -> set[tuple[int, int]]:
        """Rerun on the committed checkpoint directory; every stage resumes."""
        from automatedreclin_spark.pipeline import link_repo_files
        run = link_repo_files(spark, dfs["A"], dfs["B"], str(workdir / "ck"),
                              resume=True)
        return pair_set(run.matches.select("a", "b").toPandas())

    def fit_result(self, out: Outcome):
        return out.result.fit

    def candidates(self, spark, dfs, workdir: Path):
        # the committed candidate stage (checkpoint.py's <stage>/data layout)
        return spark.read.parquet(str(workdir / "ck" / "20_candidates" / "data"))


class BlockedChunked(Workload):
    """``blocked_mec`` with binary name and segment gammas on customer sets,
    routed through the chunked prefix sweep. The sweep's crossover is lowered
    from 20M pairs to 60k through the package's own
    SPARK_GRAFT_BLOCK_SWEEP_CHUNK_MIN, so that the engine runs at a size that
    fits a run of this benchmark."""

    name = "blocked_chunked"
    call_layer = "fit"
    string_col = "name"
    env = {"SPARK_GRAFT_BLOCK_SWEEP_CHUNK_MIN": "60000"}
    n_customers, n_blocks = 2400, 9

    def generate(self, seed: int) -> dict[str, pd.DataFrame]:
        # about 4 n^2 / 81 candidate pairs
        a, b, truth = gen.customer_sets(seed, self.n_customers, self.n_blocks)
        return {"A": a, "B": b, "truth": truth}

    def call(self, spark, dfs, workdir: Path) -> Outcome:
        from automatedreclin_spark.models.blocked_mec import blocked_mec
        res = blocked_mec(dfs["A"], dfs["B"], variables=["name", "seg"])
        pdf = res.M_est.select("a", "b").toPandas()
        return Outcome(pair_set(pdf), int(res.candidate_pair_count), res)

    def checks(self, frames, out: Outcome) -> list[str]:
        from automatedreclin_spark.operators.selection import BLOCK_SWEEP_CHUNK_MIN
        problems = []
        if not out.n_candidates > BLOCK_SWEEP_CHUNK_MIN:
            problems.append(f"N = {out.n_candidates} does not exceed "
                            f"BLOCK_SWEEP_CHUNK_MIN = {BLOCK_SWEEP_CHUNK_MIN}")
        n = len(out.pairs)
        if len({a for a, _ in out.pairs}) != n or len({b for _, b in out.pairs}) != n:
            problems.append("selected pairs are not one-to-one")
        if n != out.result.n_M_est:
            problems.append(f"|M_est| = {n} but n_M_est = {out.result.n_M_est}")
        return problems


class CustomerFlr(Workload):
    """``mec(set_construction="flr", exact_collect_max=0)`` with a continuous
    normalised-Levenshtein name gamma and a binary segment gamma, the
    arguments of the registry's mec_flr_customer.

    Not in BENCHMARK.json: on these inputs repeated calls with one seed can
    return different pair sets (README.md, "Known defect"). It stays here as
    the reproduction, runnable with ``--workload customer_flr``."""

    name = "customer_flr"
    call_layer = "fit"
    string_col = "name"
    n_customers, n_blocks = 3000, 25

    def generate(self, seed: int) -> dict[str, pd.DataFrame]:
        a, b, truth = gen.customer_sets(seed, self.n_customers, self.n_blocks)
        return {"A": a, "B": b, "truth": truth}

    def call(self, spark, dfs, workdir: Path) -> Outcome:
        from automatedreclin_spark.functions.comparators import (
            cmp_identical, levenshtein_norm)
        from automatedreclin_spark.models.mec import mec
        from automatedreclin_spark.operators.pairs import block_pairs
        A, B = dfs["A"], dfs["B"]
        res = mec(
            A, B, variables=["name", "seg"],
            comparators={"name": levenshtein_norm(), "seg": cmp_identical()},
            methods={"name": "continuous_parametric", "seg": "binary"},
            pairs=block_pairs(A, B, dedup=False).select("block", "a", "b"),
            block_col="block",
            set_construction="flr", target_rate=0.05, tol=0.01,
            max_iter_bisection=100, exact_collect_max=0,
        )
        pdf = res.M_est.select("a", "b").toPandas()
        return Outcome(pair_set(pdf), int(res.n), res)

    def deep_checks(self, spark, dfs, out: Outcome, workdir: Path) -> list[str]:
        """The distributed bisection ran, the threshold set separates
        selected from excluded pairs, and the FLR matches the selected set."""
        from pyspark.sql import functions as F
        res = out.result
        problems = []
        if res.bisection_strategy != "distributed":
            problems.append(f"bisection strategy {res.bisection_strategy!r}")
        sel = res.M_est.select("a", "b")
        row = res.scored.join(sel, ["a", "b"], "left_semi").agg(
            F.min("ratio").alias("min_sel"), F.sum("g_est").alias("g_sel"),
            F.count(F.lit(1)).alias("n_sel")).collect()[0]
        # NaN ratios are excluded by the >= t filter; max() would return NaN
        max_excl = res.scored.join(sel, ["a", "b"], "left_anti").agg(
            F.max(F.when(~F.isnan("ratio"), F.col("ratio")))).collect()[0][0]
        n_sel = int(row["n_sel"])
        if n_sel != len(out.pairs):
            problems.append("selected pairs are not all candidate pairs")
        if n_sel and max_excl is not None and not float(row["min_sel"]) > float(max_excl):
            problems.append("threshold set does not separate selected from excluded")
        if n_sel and abs((1.0 - float(row["g_sel"]) / n_sel) - res.flr_est) > 1e-6:
            problems.append("FLR is not consistent with the selected set")
        return problems


#: every workload the command knows; BENCHMARK.json lists the ones it times
WORKLOADS = {w.name: w for w in (FilesLink(), BlockedChunked(), CustomerFlr())}


# --------------------------------------------------------------- tracing --

def _checkpoint_layer(self, name, *args, **kwargs) -> str:
    """Layer of a checkpointed pipeline stage: the stage's builder is lazy,
    so the stage write is where that layer's Spark work runs."""
    if name.startswith("20_"):
        return "blocking"
    if name.startswith(("30_", "50_", "55_")):
        return "clustering"
    return "checkpoint"


def interposition_targets(tracer: Tracer) -> list:
    """Layer boundaries of the package, wrapped from outside for one call."""
    import automatedreclin_spark.models.blocked_mec as bm
    import automatedreclin_spark.models.mec as mm
    import automatedreclin_spark.pipeline as pl
    from automatedreclin_spark.checkpoint import CheckpointManager
    return [
        (CheckpointManager, "stage", "checkpoint.stage", _checkpoint_layer),
        (pl, "files_candidate_blocks", "blocking.files_candidate_blocks", "blocking"),
        (pl, "connected_components", "clustering.connected_components", "clustering"),
        (pl, "cluster_matches", "clustering.cluster_matches", "clustering"),
        (pl, "blocked_mec", "fit.blocked_mec", "fit"),
        (bm, "block_summary", "blocking.block_summary", "blocking"),
        (bm, "block_pairs", "blocking.block_pairs", "blocking"),
        (bm, "comparison_vectors", "comparison.comparison_vectors", "comparison"),
        (bm, "select_mec_pairs", "selection.select_mec_pairs", "selection"),
        (mm, "comparison_vectors", "comparison.comparison_vectors", "comparison"),
        (mm, "select_mec_pairs", "selection.select_mec_pairs", "selection"),
        (mm, "summarize_mec_selection", "selection.summarize_mec_selection",
         "selection"),
    ]


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def kernel_rate(xs: list[str], ys: list[str]) -> float:
    """Pairs/s of the no-Spark Jaro kernel in this process, one core."""
    from automatedreclin_spark.functions.strings import jaro_similarity_batch
    batch = 2048
    t0 = time.perf_counter()
    for i in range(0, len(xs), batch):
        jaro_similarity_batch(xs[i:i + batch], ys[i:i + batch])
    return len(xs) / (time.perf_counter() - t0)


def traced_call(wl, spark, dfs, frames, workdir: Path, tracer: Tracer,
                cpus: int) -> tuple[Outcome, dict[str, float]]:
    """One call of the workload with every layer boundary in a span, then the
    replays that time what the call cannot show from outside: the fit's last
    selection, repeated with its own arguments on its persisted scored frame,
    Jaro scoring in Spark against the same kernel without Spark, and (files)
    the resume path. Returns the outcome and the layer-specific metrics."""
    from pyspark.sql import functions as F
    from automatedreclin_spark.functions.comparators import jarowinkler_complement
    from automatedreclin_spark.models.blocked_mec import BlockedMecResult
    from automatedreclin_spark.operators.comparison import comparison_vectors
    from automatedreclin_spark.operators.selection import select_mec_pairs

    m: dict[str, float] = {}
    with tracer.span(wl.name, "workload"):
        with interpose(tracer, interposition_targets(tracer)):
            with tracer.span(f"{wl.name}.call", wl.call_layer) as call_span:
                out = wl.call(spark, dfs, workdir)
        res = out.result
        fit_res = wl.fit_result(out)
        iters = int(getattr(fit_res, "iter", None) or getattr(fit_res, "n_iter", 0))
        fit_spans = [s for s in tracer.spans if s.name == "fit.blocked_mec"]
        fit_s = sum(s.seconds for s in fit_spans) if fit_spans else call_span.seconds
        m["fit.iterations"] = iters
        m["fit.s_per_iter"] = fit_s / max(iters, 1)

        # selection replay: the fit's last select_mec_pairs call, with the
        # arguments the fit passed, on its returned scored frame persisted
        scored = fit_res.scored.persist()
        scored.count()
        args, kwargs = tracer.last_call["selection.select_mec_pairs"]
        with tracer.span("selection.replay_select", "selection") as sp:
            rows = select_mec_pairs(scored, *args[1:], **kwargs).count()
        m["selection.select_s"] = sp.seconds
        m["selection.selected_rows"] = rows
        if isinstance(fit_res, BlockedMecResult) and rows != fit_res.n_M_est:
            out.extra.setdefault("problems", []).append(
                f"selection replay selected {rows} rows, the fit {fit_res.n_M_est}")
        summary_spans = [s for s in tracer.spans
                         if s.name == "selection.summarize_mec_selection"]
        m["selection.summary_s"] = sum(s.seconds for s in summary_spans)
        scored.unpersist()

        # comparison replay: Jaro-Winkler (Arrow pandas UDF) on the workload's
        # main string column over its candidate pairs, and the same kernel
        # without Spark on a sample of the same string pairs
        col = wl.string_col
        A, B = dfs["A"].select("a", col), dfs["B"].select("b", col)
        cand = wl.candidates(spark, dfs, workdir).persist()
        n_cand = cand.count()
        with tracer.span("comparison.replay_jaro", "comparison") as sp:
            cv = comparison_vectors(A, B, [col], {col: jarowinkler_complement()},
                                    pairs=cand, check_finite=False)
            cv.omega.write.format("noop").mode("overwrite").save()
        m["comparison.pairs_per_s"] = n_cand / sp.seconds
        sample = (cand.limit(200_000)
                  .join(A.select("a", F.col(col).alias("x")), "a")
                  .join(B.select("b", F.col(col).alias("y")), "b")
                  .toPandas())
        m["kernel.pairs_per_s"] = kernel_rate(sample["x"].tolist(), sample["y"].tolist())
        m["comparison.udf_gap"] = m["kernel.pairs_per_s"] * cpus / m["comparison.pairs_per_s"]

        # blocking: how many candidates, and how many true pairs survive
        truth = spark.createDataFrame(frames["truth"])
        found = cand.join(truth, ["a", "b"], "left_semi").count()
        cand.unpersist()
        m["blocking.pairs"] = n_cand
        m["blocking.pair_completeness"] = found / max(len(frames["truth"]), 1)
        m["blocking.pairs_per_true_match"] = n_cand / max(len(frames["truth"]), 1)

        # clustering and checkpoint (files_link only)
        cc = [s for s in tracer.spans if s.name == "clustering.connected_components"]
        cl = [s for s in tracer.spans if s.name == "clustering.cluster_matches"]
        m["clustering.cc_s"] = sum(s.seconds for s in cc)
        m["clustering.cluster_s"] = sum(s.seconds for s in cl)
        m["clustering.components"] = getattr(res, "n_components", 0)
        if isinstance(wl, FilesLink):
            written = dir_bytes(workdir / "ck")
            input_bytes = sum(len(frames[k].to_csv(index=False).encode())
                              for k in ("A", "B"))
            m["checkpoint.bytes_written"] = written
            m["checkpoint.bytes_per_input_byte"] = written / input_bytes
            with tracer.span("checkpoint.resume", "checkpoint") as sp:
                if wl.resume(spark, dfs, workdir) != out.pairs:
                    out.extra.setdefault("problems", []).append(
                        "resumed matches differ from the fresh run")
            m["checkpoint.resume_s"] = sp.seconds
        else:
            m["checkpoint.bytes_written"] = 0
            m["checkpoint.bytes_per_input_byte"] = 0.0
            m["checkpoint.resume_s"] = 0.0
    return out, m


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path
