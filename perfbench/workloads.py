"""The benchmark workloads.

Each workload is one single-process, single-client closed loop: the next
operation starts only after the previous one has returned. A workload has

* ``prepare(reps)``  -- generate its seeded inputs ``reps`` more times
  (each timed; their median is ``setup_s``);
* ``first_op()``     -- the first operation in a fresh JVM (timed as part
  of ``first_op_s``), followed by ``WARMUP_OPS`` unmeasured operations;
* ``op()``           -- one measured operation, returning its latency;
* ``check()``        -- end-of-run output checks;
* ``items_per_s()`` / ``report()`` / ``per_layer()`` -- its metrics.

Every output check is counted as an attempted operation and every mismatch
as a failed one. Layer spans are recorded around the benchmark's own calls
into the program's public functions (tracing.Tracer); with tracing off the
same calls run, without spans.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from collections import Counter

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen

# "full" is what the benchmark measures; "smoke" is the tiny scale of the
# benchmark's own test (every workload and every check, seconds of work).
SIZES = {
    "full": {
        "build_hot": {"turns": 4_000, "docs": 1_000, "dup_pairs": 20},
        "append_query": {"entities": 1_000, "convs": 100, "batch_convs": 10,
                         "global_q": 4, "local_q": 4},
    },
    "smoke": {
        "build_hot": {"turns": 800, "docs": 200, "dup_pairs": 5},
        "append_query": {"entities": 200, "convs": 30, "batch_convs": 5,
                         "global_q": 2, "local_q": 2},
    },
}

# A traced build is four run_pipeline(resume=True, until=...) calls, each
# doing exactly the next layer's work; the span each is recorded under.
BUILD_LAYERS = [
    ("extractions", "extraction"),
    ("canon_map", "linking_cc"),
    ("claims", "merge"),
    (None, "communities"),
]
STAGES = [
    "extractions", "canon_map", "nodes", "edges", "triples", "claims",
    "communities", "community_stats", "summaries", "summary_embeddings",
]
MERGE_STAGES = ["nodes", "edges", "triples", "claims"]
CURATE_OPS = ["minhash", "similar_docs", "ngram_repetition", "quality_features"]
# operators/cc.connected_components and communities.detect_communities
# stay driver-local while their state (vertices + edges) is at or under
# their default driver_threshold; 0 forces the distributed loops.
DRIVER_THRESHOLD = 100_000


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail_percentile(xs: list[float]) -> tuple[float, int]:
    """The highest of p95/p90/p75 with at least ten samples beyond it, else
    the median; returns (value, percentile)."""
    for p in (95, 90, 75):
        if len(xs) * (100 - p) / 100 >= 10:
            return float(np.percentile(xs, p)), p
    return median(xs), 50


def rows(df) -> Counter:
    """The rows of ``df`` as a multiset."""
    return Counter(map(tuple, df.collect()))


def read_manifest(out: str) -> dict:
    with open(os.path.join(out, "_manifest.json")) as fh:
        return {k: v for k, v in json.load(fh).items() if isinstance(v, dict)}


def stage_bytes(manifest: dict) -> int:
    return sum(manifest[s]["bytes"] for s in STAGES)


class Workload:
    name = ""
    WARMUP_OPS = 0  # unmeasured operations between the cold one and the loop

    def __init__(self, ctx, size: dict) -> None:
        self.ctx = ctx
        self.size = size
        self.spark = None
        self.tr = None
        self.tables: dict | None = None
        self.setup_times: list[float] = []
        self.op_times: list[float] = []
        self.untraced: list[float] = []
        self.traced: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def expect(self, ok: bool, msg: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{self.name}: {msg}")

    def attach(self, spark, tracer) -> None:
        self.spark = spark
        self.tr = tracer

    # -- inputs ----------------------------------------------------------
    def generate(self) -> dict:
        raise NotImplementedError

    def prepare(self, reps: int) -> None:
        """Generate the inputs ``reps`` more times, adding each duration to
        ``setup_times``; every rep does the same work and must reproduce
        the first one's tables. Those are written, untimed, once per
        (workload, seed) to the cache the program reads."""
        for _ in range(reps):
            t0 = time.perf_counter()
            tables = self.generate()
            self.setup_times.append(time.perf_counter() - t0)
            if self.tables is None:
                self.tables = tables
                self._write_inputs(tables)
            else:
                self.expect(tables == self.tables, "seeded inputs differ between reps")

    def _write_inputs(self, tables: dict) -> None:
        done = os.path.join(self.ctx.cache_dir, "_INPUTS")
        if os.path.exists(done):
            return
        for name, table in tables.items():
            path = self.input_path(name)
            shutil.rmtree(path, ignore_errors=True)
            gen.write_parquet_dir(table, path)
        open(done, "w").close()

    def input_path(self, name: str) -> str:
        return os.path.join(self.ctx.cache_dir, name)

    # -- checks ----------------------------------------------------------
    def check_across_runs(self, key: str, sums: dict) -> None:
        """Stage checksums must equal those an earlier run (traced or not)
        of this workload and seed recorded; the first run records them."""
        path = os.path.join(self.ctx.cache_dir, f"checksums-{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                self.expect(json.load(fh) == sums, f"stage checksums ({key}) differ from an earlier run")
        else:
            with open(path, "w") as fh:
                json.dump(sums, fh, sort_keys=True)

    def checksums(self, out: str) -> dict:
        from graphrag_litex_spark.plans.pipeline import stage_checksums

        sums = stage_checksums(self.spark, out, STAGES)
        self.expect(sorted(sums) == sorted(STAGES), f"missing stages {sorted(set(STAGES) - set(sums))}")
        return sums

    def check(self) -> None:
        """End-of-run output checks."""

    def traced_extras(self) -> None:
        """Extra traced work after the measured loop (traced runs only)."""

    # -- metrics ---------------------------------------------------------
    def reset_stats(self) -> None:
        """Forget the latencies of warm-up operations."""
        self.untraced.clear()
        self.traced.clear()

    def timed(self, wall: float) -> float:
        (self.traced if self.tr.enabled else self.untraced).append(wall)
        return wall

    def spans(self, name: str) -> list[dict]:
        return self.tr.by_name(name)

    def med(self, span: str, key: str) -> float:
        return median([s[key] for s in self.spans(span)])

    # -- graph layers, shared by builds and refreshes ---------------------
    def trace_linking_cc(self, out: str, distributed: bool = False) -> None:
        """Inside a build, linking's blocked self-join executes under CC's
        first collect, so the two layers are timed apart here, through
        their public entry points, on the build's own name table.

        With ``distributed``, CC and community detection also run once
        more with ``driver_threshold=0`` (spans ``cc.distributed`` and
        ``communities.distributed``), which forces their distributed loops
        on this graph; each must give the driver-local result."""
        from graphrag_litex_spark.operators.cc import connected_components
        from graphrag_litex_spark.operators.communities import detect_communities
        from graphrag_litex_spark.operators.iterutils import hard_checkpoint, release
        from graphrag_litex_spark.operators.linking import candidate_pairs

        names = hard_checkpoint(self.spark.read.parquet(os.path.join(out, "canon_map")).select("norm_name"))
        blocks = names.groupBy(F.split_part("norm_name", F.lit(" "), F.lit(1))).count()
        attempted = blocks.select(F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0]
        n_names = names.count()
        with self.tr.span("linking") as c:
            pairs = hard_checkpoint(candidate_pairs(names))
            c["pairs_kept"] = kept = pairs.count()
        c["pairs_attempted"] = int(attempted or 0)
        with self.tr.span("cc") as c:
            labels = rows(connected_components(names, pairs, id_col="norm_name"))
        c["regime"] = int(n_names + 2 * kept > DRIVER_THRESHOLD)
        if distributed:
            with self.tr.span("cc.distributed"):
                dist = rows(connected_components(names, pairs, id_col="norm_name", driver_threshold=0))
            self.expect(dist == labels, "distributed CC labels differ from driver-local ones")
            nodes = self.spark.read.parquet(os.path.join(out, "nodes"))
            edges = self.spark.read.parquet(os.path.join(out, "edges"))
            local = rows(detect_communities(nodes, edges))
            with self.tr.span("communities.distributed"):
                dist = rows(detect_communities(nodes, edges, driver_threshold=0))
            self.expect(dist == local, "distributed communities differ from driver-local ones")
        release(pairs)
        release(names)

    def graph_layers(self, top: str, manifest: dict) -> dict:
        """linking / cc / merge / communities / pipeline metrics of the
        traced ``top`` spans (builds or refreshes)."""
        link = self.spans("linking")[-1]["counts"]
        tried, kept = link["pairs_attempted"], link["pairs_kept"]
        out = {
            "linking.wall_s": self.med("linking", "wall_s"),
            "linking.pairs_attempted": tried,
            "linking.pairs_kept": kept,
            "linking.keep_ratio": kept / tried if tried else 0.0,
            "linking.shuffle_bytes": self.med("linking", "shuffle_write_bytes"),
            "cc.wall_s": self.med("cc", "wall_s"),
            "cc.jobs": self.med("cc", "jobs"),
            "cc.regime": self.spans("cc")[-1]["counts"]["regime"],
            "merge.wall_s": self.med("merge", "wall_s"),
            "merge.task_s": self.med("merge", "task_s"),
            "merge.shuffle_write_bytes": self.med("merge", "shuffle_write_bytes"),
            "merge.spill_bytes": self.med("merge", "spill_bytes"),
            "merge.skew_ratio": max(
                m["max_part_rows"] / (m["rows"] / m["files"])
                for m in (manifest[s] for s in MERGE_STAGES) if m["rows"]
            ),
            "communities.wall_s": self.med("communities", "wall_s"),
            "communities.jobs": self.med("communities", "jobs"),
            "communities.shuffle_bytes": self.med("communities", "shuffle_write_bytes"),
            # Zero unless the workload forces the distributed loops.
            "cc.distributed_wall_s": self.med("cc.distributed", "wall_s"),
            "cc.distributed_jobs": self.med("cc.distributed", "jobs"),
            "communities.distributed_wall_s": self.med("communities.distributed", "wall_s"),
            "communities.distributed_jobs": self.med("communities.distributed", "jobs"),
            "communities.distributed_shuffle_bytes": self.med("communities.distributed", "shuffle_write_bytes"),
        }
        for s in STAGES:
            out[f"pipeline.stage.{s}_s"] = manifest[s]["sec"]
        tops = self.spans(top)
        trees = [[s for s in self.tr.spans if s["trace"] == t["trace"]
                  and s["name"] in (top, *dict(BUILD_LAYERS).values())] for t in tops]

        def share(layers: tuple) -> float:
            return median([
                sum(s["wall_s"] for s in tree if s["name"] in layers) / t["wall_s"]
                for t, tree in zip(tops, trees)
            ])

        out.update({
            "pipeline.self_s": self.med(top, "self_s"),
            "pipeline.busy_share": median([
                sum(s["task_s"] for s in tree) / (t["wall_s"] * self.ctx.cores) for t, tree in zip(tops, trees)
            ]),
            "pipeline.jobs": median([sum(s["jobs"] for s in tree) for tree in trees]),
            "pipeline.graph_share": share(("linking_cc", "communities")),
            "pipeline.extract_merge_share": share(("extraction", "merge")),
            "spark.codegen_compile_s": self.med(top, "codegen_s"),
            "trace.overhead_s": median(self.traced) - median(self.untraced),
        })
        return out


# ---------------------------------------------------------------------------
class BuildHot(Workload):
    """Full from-scratch builds (all ten stages) of datagen's Zipf-hot
    52-entity corpus. Linking, CC and communities stay small and
    driver-local, but at this corpus size their fixed per-stage cost is
    still over half of a build; extraction and the hot-key salted merges
    take the rest.

    Its traced run also times one warm pass of the document-curation
    operators over a seeded table with planted near-duplicates, so their
    layers are measured (per layer only; no end-to-end metric gates them).
    """

    name = "build_hot"

    def __init__(self, ctx, size) -> None:
        super().__init__(ctx, size)
        self.ref_checksums: dict | None = None
        self.manifest: dict = {}
        self.last_out = ""
        self.n_build = 0
        self.curate_pairs = 0

    def generate(self) -> dict:
        return {"transcripts": gen.hot_transcripts(self.size["turns"], self.ctx.seed)}

    def _build(self) -> float:
        from graphrag_litex_spark.plans.pipeline import run_pipeline

        out = os.path.join(self.ctx.work_dir, f"kg{self.n_build}")
        self.n_build += 1
        src = self.input_path("transcripts")
        self.tr.new_trace()
        t0 = time.perf_counter()
        with self.tr.span("build"):
            if self.tr.enabled:
                for until, layer in BUILD_LAYERS:
                    with self.tr.span(layer):
                        run_pipeline(self.spark, src, out, resume=True, until=until)
            else:
                run_pipeline(self.spark, src, out, resume=False)
        wall = time.perf_counter() - t0
        self.manifest = read_manifest(out)
        if self.ref_checksums is None:
            self.ref_checksums = self.checksums(out)
            self.check_across_runs("build", self.ref_checksums)
            self._check_oracle(out)
        if self.tr.enabled:
            self.trace_linking_cc(out)
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out
        return wall

    def _check_oracle(self, out: str) -> None:
        """The triples multiset must equal the single-process oracle's."""
        from graphrag_litex_spark import oracle

        golden = oracle.run_oracle(self.tables["transcripts"])["golden_triples"].to_pandas()
        want = sorted(zip(golden.conv_id, golden.turn_idx, golden.subj, golden.pred, golden.obj))
        got = sorted(
            tuple(r) for r in self.spark.read.parquet(os.path.join(out, "triples"))
            .select("conv_id", "turn_idx", "subj", "pred", "obj").collect()
        )
        self.expect(got == want, f"triples differ from the oracle ({len(got)} rows vs {len(want)})")

    def first_op(self) -> float:
        return self._build()

    def op(self) -> float:
        return self.timed(self._build())

    def check(self) -> None:
        """The last build must match the first one stage for stage."""
        self.expect(self.checksums(self.last_out) == self.ref_checksums, "stage checksums differ across reps")

    def traced_extras(self) -> None:
        """A warm-up and a traced curation pass over seeded documents."""
        table, planted = gen.documents(self.size["docs"], self.size["dup_pairs"], self.ctx.seed)
        path = self.input_path("documents")
        if not os.path.exists(path):
            gen.write_parquet_dir(table, path)
        for traced in (False, True):
            self.tr.enabled = traced
            self.tr.new_trace()
            self._curate(path, planted)
        self.tr.enabled = False

    def _curate(self, path: str, planted: list) -> None:
        from graphrag_litex_spark.operators.dedup import minhash_lsh_candidates
        from graphrag_litex_spark.operators.scrub import ngram_repetition_stats
        from graphrag_litex_spark.operators.text_analysis import quality_features
        from graphrag_litex_spark.operators.tfidf import similar_docs

        docs = self.spark.read.parquet(path)
        # The document-frequency cap keeps similar_docs' pair fan-out
        # proportional to the corpus.
        max_df = max(4, self.size["docs"] // 200)
        with self.tr.span("curate"):
            with self.tr.span("curate.minhash"):
                pairs = minhash_lsh_candidates(docs).select("id_a", "id_b").collect()
            with self.tr.span("curate.similar_docs"):
                similar_docs(docs, max_df=max_df).write.format("noop").mode("overwrite").save()
            with self.tr.span("curate.ngram_repetition"):
                ngram_repetition_stats(docs).write.format("noop").mode("overwrite").save()
            with self.tr.span("curate.quality_features"):
                quality_features(docs).write.format("noop").mode("overwrite").save()
        found = {(min(a, b), max(a, b)) for a, b in pairs}
        missing = [p for p in planted if p not in found]
        self.expect(not missing, f"{len(missing)} planted duplicate pairs not among the LSH candidates")
        self.curate_pairs = len(pairs)

    def n_turns(self) -> int:
        return self.tables["transcripts"].num_rows

    def stored_ratio(self) -> float:
        return stage_bytes(self.manifest) / gen.dir_bytes(self.input_path("transcripts"))

    def items_per_s(self) -> float:
        return self.n_turns() / median(self.op_times)

    def report(self) -> dict:
        build_s = median(self.op_times)
        return {
            "build_s": (build_s, "s"),
            "first_build_s": (self.ctx.first_op_s, "s"),
            "turns_per_s": (self.n_turns() / build_s, "1/s"),
            "triples_per_s": (self.manifest["triples"]["rows"] / build_s, "1/s"),
            "stored_bytes_per_input_byte": (self.stored_ratio(), "ratio"),
        }

    def per_layer(self) -> dict:
        out = self.graph_layers("build", self.manifest)
        kernel_s = self.ctx.kernel_us_per_turn * self.n_turns() / 1e6
        task_s = self.med("extraction", "task_s")
        out.update({
            "extraction.wall_s": self.med("extraction", "wall_s"),
            "extraction.task_s": task_s,
            "extraction.cpu_s": self.med("extraction", "cpu_s"),
            "extraction.items": self.manifest["extractions"]["rows"],
            "extraction.overhead_ratio": task_s / kernel_s if kernel_s else 0.0,
            "pipeline.stored_bytes_per_input_byte": self.stored_ratio(),
            "dedup.candidate_pairs": self.curate_pairs,
        })
        for op in CURATE_OPS:
            out[f"curate.{op}_s"] = self.med(f"curate.{op}", "wall_s")
            out[f"curate.{op}.shuffle_bytes"] = self.med(f"curate.{op}", "shuffle_write_bytes")
        return out


# ---------------------------------------------------------------------------
class AppendQuery(Workload):
    """Writes beside reads over a wide-vocabulary base graph. Each op
    appends a new seeded batch and refreshes the graph: the refresh
    re-runs linking, CC, the merges and communities over the whole wide
    graph but extracts only the batch. A burst of global and local
    questions about the graph's entities follows each op.

    The graph stays under the 100k-row driver_threshold, so the refresh
    runs CC and communities driver-locally; the traced run also times
    their distributed loops on it (trace_linking_cc)."""

    name = "append_query"
    N_BATCHES = 8
    # The first cycle after the base build is the first append, refresh
    # and question burst in the JVM; measured, it scatters by about 20%
    # between runs (6% from the second cycle on).
    WARMUP_OPS = 1

    def __init__(self, ctx, size) -> None:
        super().__init__(ctx, size)
        self.cycles: list[dict] = []
        self.q_ms: list[float] = []
        self.q_wall = 0.0
        self.n_questions = 0
        self.q_cursor = 0
        self.batch_i = 0

    def generate(self) -> dict:
        seed = self.ctx.seed
        vocab = gen.wide_vocabulary(self.size["entities"], seed)
        tables = {"transcripts": gen.wide_transcripts(self.size["convs"], vocab, seed, prefix="base")}
        for k in range(self.N_BATCHES):
            tables[f"batch{k}"] = gen.wide_transcripts(
                self.size["batch_convs"], vocab, seed * 1000 + k + 1, prefix=f"app{k}"
            )
        return tables

    def first_op(self) -> float:
        """Builds the base graph, then answers one question of each kind
        so that the loop's questions run warm."""
        from graphrag_litex_spark.plans.pipeline import KGPipeline

        self.out = os.path.join(self.ctx.work_dir, "kg")
        self.pipe = KGPipeline(self.spark, self.input_path("transcripts"), self.out)
        t0 = time.perf_counter()
        self.kg = self.pipe.run(resume=False)
        # Questions are about entities with at least one edge, so that a
        # local search always has a neighbourhood to rank.
        edges = self.kg["edges"]
        names = sorted(r[0] for r in edges.select("src").union(edges.select("dst")).distinct().collect())
        self.names = [names[int(i)] for i in np.random.RandomState(self.ctx.seed).permutation(len(names))]
        self._queries(1, 1)
        return time.perf_counter() - t0

    def reset_stats(self) -> None:
        super().reset_stats()
        self.cycles.clear()
        self.q_ms, self.q_wall, self.n_questions = [], 0.0, 0

    def _take(self, n: int) -> list[str]:
        qs = [self.names[(self.q_cursor + i) % len(self.names)] for i in range(n)]
        self.q_cursor += n
        self.n_questions += n
        return qs

    def _queries(self, n_global: int, n_local: int) -> None:
        """Global questions one by one (answer_question) and as one batch
        (answer_questions, counted per question), then local searches."""
        from graphrag_litex_spark.querying.answer import answer_question, answer_questions, local_search

        kg = self.kg
        q0 = time.perf_counter()
        globals_ = [f"What do we know about {n}?" for n in self._take(n_global)]
        for q in globals_:
            t = time.perf_counter()
            with self.tr.span("query.global"):
                ans = answer_question(kg["summaries"], q, summary_embeddings=kg["summary_embeddings"])
            self.q_ms.append((time.perf_counter() - t) * 1e3)
            self.expect(isinstance(ans, dict) and "answer" in ans, f"no answer to {q!r}")
        t = time.perf_counter()
        with self.tr.span("query.global_batch"):
            batch = answer_questions(kg["summaries"], globals_, summary_embeddings=kg["summary_embeddings"])
        self.q_ms.append((time.perf_counter() - t) * 1e3 / n_global)
        self.n_questions += n_global
        self.expect(len(batch) == n_global, "answer_questions lost questions")
        for name in self._take(n_local):
            t = time.perf_counter()
            with self.tr.span("query.local"):
                rows = local_search(kg, f"Who is {name} connected to?").collect()
            self.q_ms.append((time.perf_counter() - t) * 1e3)
            self.expect(len(rows) > 0, f"local search for {name!r} returned nothing")
        self.q_wall += time.perf_counter() - q0

    def op(self) -> float:
        if self.batch_i >= self.N_BATCHES:
            raise RuntimeError("append_query ran out of pre-generated batches; raise N_BATCHES")
        batch = self.input_path(f"batch{self.batch_i}")
        prefix = f"app{self.batch_i}_"
        self.batch_i += 1
        self.tr.new_trace()
        t0 = time.perf_counter()
        with self.tr.span("append"):
            n_new = self.pipe.append_transcripts(batch)
        t1 = time.perf_counter()
        before = {k: v["fingerprint"] for k, v in read_manifest(self.out).items()}
        with self.tr.span("refresh"):
            if self.tr.enabled:
                for until, layer in BUILD_LAYERS[1:]:
                    with self.tr.span(layer):
                        self.kg = self.pipe.run(resume=True, until=until)
            else:
                self.kg = self.pipe.run(resume=True)
        t2 = time.perf_counter()
        self.manifest = read_manifest(self.out)
        self.cycles.append({
            "append_s": t1 - t0,
            "refresh_s": t2 - t1,
            "rebuilt": sum(1 for s in STAGES if before.get(s) != self.manifest[s]["fingerprint"]),
        })
        self.expect(n_new > 0, f"batch {batch} appended no turns")
        self._check_visible(batch, prefix)
        # Every run refreshes the same batches in the same order, so the
        # graph after each batch must equal the one any earlier run of this
        # seed, traced or not, recorded.
        self.check_across_runs(f"after{self.batch_i}", self.checksums(self.out))
        if self.tr.enabled:
            self.trace_linking_cc(self.out, distributed=True)
        self._queries(self.size["global_q"], self.size["local_q"])
        return self.timed(t2 - t0)

    def _check_visible(self, batch: str, prefix: str) -> None:
        """Every appended conversation with an extractable relation of
        strength >= 0.5 must appear in the refreshed triples stage."""
        from graphrag_litex_spark.functions.extract import extract_turn_flat

        table = pq.read_table(batch, columns=["conv_id", "text"])
        want = set()
        for conv, text in zip(table.column("conv_id").to_pylist(), table.column("text").to_pylist()):
            flat = extract_turn_flat(text)
            if flat and any(r[3] >= 0.5 for r in flat[1]):
                want.add(conv)
        got = {
            r[0] for r in self.kg["triples"].where(F.col("conv_id").startswith(prefix))
            .select("conv_id").distinct().collect()
        }
        self.expect(got == want, f"{len(want - got)} appended conversations missing from triples")

    def items_per_s(self) -> float:
        return self.n_questions / self.q_wall

    def report(self) -> dict:
        tail, p = tail_percentile(self.q_ms)
        return {
            "append_visible_s": (median(self.op_times), "s"),
            "query_ms_p50": (median(self.q_ms), "ms"),
            f"query_ms_p{p}": (tail, "ms"),
            "query_samples": (len(self.q_ms), "count"),
            "queries_per_s": (self.n_questions / self.q_wall, "1/s"),
        }

    def per_layer(self) -> dict:
        out = self.graph_layers("refresh", self.manifest)
        # The append is this write path's extraction.
        appends = {s["trace"]: s["wall_s"] for s in self.spans("append")}
        merges = {s["trace"]: s["wall_s"] for s in self.spans("merge")}
        out["pipeline.extract_merge_share"] = median([
            (appends[r["trace"]] + merges[r["trace"]]) / (appends[r["trace"]] + r["wall_s"])
            for r in self.spans("refresh")
        ])
        inputs = ["transcripts"] + [f"batch{k}" for k in range(self.batch_i)]
        q_spans = self.spans("query.global") + self.spans("query.global_batch") + self.spans("query.local")
        n_q = 2 * len(self.spans("query.global")) + len(self.spans("query.local"))
        out.update({
            "pipeline.append_s": self.med("append", "wall_s"),
            "pipeline.refresh_s": self.med("refresh", "wall_s"),
            "pipeline.stages_rebuilt": median([c["rebuilt"] for c in self.cycles]),
            "pipeline.stored_bytes_per_input_byte": stage_bytes(self.manifest)
            / sum(gen.dir_bytes(self.input_path(n)) for n in inputs),
            "query.global_ms": self.med("query.global", "wall_s") * 1e3,
            "query.local_ms": self.med("query.local", "wall_s") * 1e3,
            "query.jobs_per_question": sum(s["jobs"] for s in q_spans) / n_q,
        })
        return out


WORKLOADS = {w.name: w for w in (BuildHot, AppendQuery)}
