"""The benchmark's workloads, each driven through the engine's public entry
points.

- ``pipeline_planted``: ``run_pipeline`` with all four detectors over a
  planted ``generate_pages_pdf`` corpus that carries HTML, so extraction
  runs. Its traced run also replays a slice of the same corpus through the
  streaming sinks (``signature_log_sink``, then ``streaming_candidate_edges``
  into a path-based ``verified_edges_sink``).
- ``fold_hot_farm``: ``DedupIndex.add_increment`` folds one fixed increment
  into a base index whose one global farm is far above ``bucket_cap``.

Every op does identical work: same input, fresh output directory, and
state restored before the op and outside its timing.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
from urllib.parse import urlparse

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig
from cs588_data_science_bug_duplicate_detector_spark.datagen import (
    generate_pages_pdf,
    generate_skewed_pages_distributed,
)
from cs588_data_science_bug_duplicate_detector_spark.functions.extract import with_extracted_text
from cs588_data_science_bug_duplicate_detector_spark.operators.cc import connected_components
from cs588_data_science_bug_duplicate_detector_spark.operators.exact import exact_dup_edges
from cs588_data_science_bug_duplicate_detector_spark.operators.incremental import (
    DedupIndex,
    _signed_increment,
    fold_labels,
    incremental_exact_edges,
    incremental_minhash_edges,
    incremental_simhash_edges,
)
from cs588_data_science_bug_duplicate_detector_spark.operators.minhash import (
    band_table,
    hot_bucket_stats,
    minhash_edges_from_sigs,
    release_cached_deps,
    with_dual_signatures,
    with_minhash,
)
from cs588_data_science_bug_duplicate_detector_spark.operators.simhash import (
    simhash_edges_from_sigs,
)
from cs588_data_science_bug_duplicate_detector_spark.operators.suffix import suffix_edges
from cs588_data_science_bug_duplicate_detector_spark.plans.pipeline import run_pipeline
from cs588_data_science_bug_duplicate_detector_spark.sources.tableio import TableIO
from cs588_data_science_bug_duplicate_detector_spark.streaming.ingest import PAGES_DDL
from cs588_data_science_bug_duplicate_detector_spark.streaming.stateful import (
    signature_log_sink,
    streaming_candidate_edges,
    verified_edges_sink,
)

from scoring import components, pair_scores, partition_diff

# Input sizes and warm-up op counts. "tiny" is for the smoke tests only.
SIZES = {
    "full": {
        "pipeline_docs": 400,
        "stream_docs": 24,
        "stream_files": 2,
        "fold_base": 1000,
        "fold_inc": 60,
        "farm_frac": 0.25,
        "warmup_ops": 1,
    },
    "tiny": {
        "pipeline_docs": 120,
        "stream_docs": 16,
        "stream_files": 2,
        "fold_base": 400,
        "fold_inc": 40,
        "farm_frac": 0.4,
        "warmup_ops": 0,
    },
}

# Pair-score floors on planted truth: an op whose labels score below them
# fails its check.
PIPELINE_FLOORS = {"recall": 0.95, "precision": 0.9}
FOLD_FLOORS = {"recall": 0.99, "precision": 0.99}


def _du(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def _read_output(df, columns: list[str]) -> pd.DataFrame:
    """The parquet files behind ``df``, read in this process without a Spark job."""
    return pq.read_table([urlparse(u).path for u in df.inputFiles()], columns=columns).to_pandas()


def _checksum(series: pd.Series) -> str:
    """Order-independent digest of a clustering (doc key -> cluster key)."""
    rows = sorted(zip(series.index.astype(str), series.astype(str)))
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


class PipelinePlanted:
    name = "pipeline_planted"
    # two timed ops, so that every run reports a drift
    min_timed_ops = 2

    def __init__(self, spark, work: str, seed: int, size: dict):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.cfg = DedupConfig()
        self.docs = size["pipeline_docs"]

    def generate(self) -> None:
        pdf, truth, spans = generate_pages_pdf(self.docs, seed=self.seed, cfg=self.cfg)
        # Spark rejects parquet TIMESTAMP(NANOS): keep microseconds
        pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
        self.pdf = pdf
        labels = dict(zip(truth["url"], truth["true_cluster_id"].map(lambda c: f"c{c}")))
        for i, (a, b) in enumerate(zip(spans["url_a"], spans["url_b"])):
            labels[a] = labels[b] = f"span{i}"
        self.truth = pd.Series(labels)

    def setup(self) -> None:
        self.pages_path = os.path.join(self.work, "pages.parquet")
        self.pdf.to_parquet(self.pages_path, index=False)
        self.input_bytes = _du(self.pages_path)
        self.pages = self.spark.read.parquet(self.pages_path)
        self._op_no = 0

    def restore(self) -> str:
        workdir = os.path.join(self.work, f"run{self._op_no}")
        shutil.rmtree(os.path.join(self.work, f"run{self._op_no - 1}"), ignore_errors=True)
        self._op_no += 1
        return workdir

    def op(self, workdir: str):
        return run_pipeline(self.spark, self.pages, workdir, cfg=self.cfg, resume=False)

    def check(self, workdir: str, run) -> dict:
        pred = _read_output(run.labels, ["url", "cluster_id"]).set_index("url")["cluster_id"]
        scores = pair_scores(pred, self.truth)
        edges = _read_output(TableIO(workdir).read(self.spark, "candidate_edges"), ["detector"])
        counts = {str(k): int(v) for k, v in edges["detector"].value_counts().items()}
        ok = (
            len(pred) == self.docs
            and scores["recall"] >= PIPELINE_FLOORS["recall"]
            and scores["precision"] >= PIPELINE_FLOORS["precision"]
        )
        return {
            "ok": ok,
            "identity": (tuple(sorted(counts.items())), _checksum(pred)),
            "edges": counts,
            "recall": scores["recall"],
            "precision": scores["precision"],
        }

    # --- traced run ------------------------------------------------------
    def trace(self, tracer, last_op_wall_s: float, last_workdir: str) -> dict:
        """One op re-run as its separate layer calls, in run_pipeline's order,
        then a stream replay of a slice of the corpus."""
        spark, cfg = self.spark, self.cfg
        io = TableIO(os.path.join(self.work, "traced"))
        suffix_obs = Observation("suffix_caps")
        rounds = []
        with tracer.span("pipeline"):
            with tracer.span("extract"):
                documents = with_extracted_text(self.pages, "html", "text").select(
                    "url", F.xxhash64("url").alias("doc_id"), "text"
                )
                io.write(documents, "documents")
                documents = io.read(spark, "documents")
            with tracer.span("sign"):
                sigs = with_dual_signatures(documents.select("doc_id", "text"), "text", cfg)
                io.write(sigs.drop("text"), "signatures")
                signatures = io.read(spark, "signatures")
            with tracer.span("exact"):
                io.write(exact_dup_edges(documents, "doc_id", "text"), "edges_exact")
            with tracer.span("minhash"):
                mh, hot = minhash_edges_from_sigs(
                    signatures.select("doc_id", "minhash"), "doc_id", cfg
                )
                hot_stats = hot_bucket_stats(hot)
                io.write(mh, "edges_minhash")
            with tracer.span("simhash"):
                sh_stats: dict = {}
                sh = simhash_edges_from_sigs(
                    signatures.select("doc_id", "simhash"), "doc_id", cfg, stats_out=sh_stats
                )
                io.write(sh, "edges_simhash")
                release_cached_deps(sh)
            with tracer.span("suffix"):
                io.write(
                    suffix_edges(documents, "doc_id", "text", cfg, observation=suffix_obs),
                    "edges_suffix",
                )
            with tracer.span("cc"):
                edges = None
                for det in ("exact", "minhash", "simhash", "suffix"):
                    e = io.read(spark, f"edges_{det}").select("src", "dst")
                    edges = e if edges is None else edges.unionByName(e)
                cc = connected_components(
                    edges,
                    vertices=documents.select("doc_id"),
                    reliable=True,
                    checkpoint_dir=os.path.join(io.root, "_cc_checkpoints"),
                    on_iteration=lambda it, n: rounds.append(n),
                )
                io.write(
                    documents.select("url", "doc_id").join(
                        cc.withColumnRenamed("id", "doc_id"), "doc_id"
                    ),
                    "component_labels",
                )
        # counts, outside every span: read back from the layer outputs and
        # from the tables minhash still holds persisted
        n = {d: io.read(spark, f"edges_{d}").count() for d in ("exact", "minhash", "simhash", "suffix")}
        _, bw, pairs = mh._cached_deps
        candidates = pairs.count() + bw.where(
            (F.col("bucket_size") > cfg.bucket_cap) & (F.col("id") != F.col("root"))
        ).count()
        release_cached_deps(mh)
        caps = {k: int(v or 0) for k, v in suffix_obs.get.items()}
        counts = {
            "exact.edges": n["exact"],
            "minhash.candidates": candidates,
            "minhash.edges": n["minhash"],
            "minhash.verify_yield": n["minhash"] / candidates if candidates else 0.0,
            "minhash.hot_buckets": hot_stats["hot_buckets"],
            "minhash.max_bucket": hot_stats["max_bucket_size"],
            "simhash.edges": n["simhash"],
            "simhash.hot_chunks": sh_stats["hot_chunks"],
            "suffix.edges": n["suffix"],
            "suffix.windows_dropped": caps["windows_dropped"],
            "suffix.docs_capped": caps["docs_capped"],
            "cc.rounds": len(rounds),
            "cc.edges_in": sum(n.values()),
            "pipeline.bytes_written_per_input_byte": _du(last_workdir) / self.input_bytes,
        }
        counts.update(self._stream_replay(tracer))
        return {"counts": counts, "op_wall_s": last_op_wall_s, "root": "pipeline"}

    def _stream_replay(self, tracer) -> dict:
        spark, cfg = self.spark, self.cfg
        d = os.path.join(self.work, "stream")
        arrivals = os.path.join(d, "arrivals")
        os.makedirs(arrivals)
        sub = self.pdf.iloc[: self.size["stream_docs"]]
        k = self.size["stream_files"]
        # ordered arrival files: the file source takes them oldest first
        for j in range(k):
            part = sub.iloc[j * len(sub) // k : (j + 1) * len(sub) // k]
            part.to_parquet(os.path.join(arrivals, f"part-{j:03d}.parquet"), index=False)
        stream = (
            spark.readStream.schema(PAGES_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(arrivals)
            .withColumn("doc_id", F.xxhash64("url"))
        )
        sig_dir, edge_dir = os.path.join(d, "sigs"), os.path.join(d, "edges")
        with tracer.span("stream.siglog") as sp:
            q = (
                stream.writeStream.foreachBatch(signature_log_sink("doc_id", "text", cfg, sig_dir))
                .option("checkpointLocation", os.path.join(d, "ckpt_sigs"))
                .trigger(availableNow=True)
                .start()
            )
            sp["run_id"] = str(q.runId)
            _await(q)
        with tracer.span("stream.candidates") as sp:
            cand = streaming_candidate_edges(
                stream, cfg, id_col="doc_id", text_col="text", ts_col="warc_ts"
            )
            q = (
                cand.writeStream.foreachBatch(verified_edges_sink(sig_dir, "doc_id", cfg, edge_dir))
                .option("checkpointLocation", os.path.join(d, "ckpt_edges"))
                .trigger(availableNow=True)
                .start()
            )
            sp["run_id"] = str(q.runId)
            _await(q)
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        batch_s = [p["durationMs"]["triggerExecution"] / 1e3 for p in batches]
        state = [p["stateOperators"][0] for p in batches]
        log = spark.read.parquet(edge_dir).select("src", "dst", "est_jaccard").toPandas()
        verified = log[log["est_jaccard"].notna()]
        # batch MinHash clustering of the same docs, for comparison
        docs = spark.createDataFrame(sub[["url", "text"]]).select(
            F.xxhash64("url").alias("doc_id"), "text"
        )
        mh, _ = minhash_edges_from_sigs(with_minhash(docs, "text", cfg), "doc_id", cfg)
        batch_edges = [(r["src"], r["dst"]) for r in mh.collect()]
        release_cached_deps(mh)
        ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
        diff = partition_diff(
            components(zip(verified["src"], verified["dst"]), ids), components(batch_edges, ids)
        )
        return {
            "stream.batches": len(batches),
            "stream.batch_s_p50": statistics.median(batch_s),
            "stream.batch_growth": batch_s[-1] / batch_s[0],
            "stream.state_rows": state[-1]["numRowsTotal"],
            "stream.state_commit_ms": sum(s["commitTimeMs"] for s in state),
            "stream.verified_edges": len(verified),
            "stream.unverifiable_edges": len(log) - len(verified),
            "stream.batch_label_mismatch_docs": diff["mismatch_docs"],
        }


def _await(query, timeout_s: int = 150) -> None:
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise RuntimeError(f"streaming query {query.runId} did not finish in {timeout_s} s")
    if query.exception() is not None:
        raise RuntimeError(f"streaming query failed: {query.exception()}")


class FoldHotFarm:
    name = "fold_hot_farm"
    # one warm fold already outlasts the run's 10 s, and a second would not
    # fit the time budget of a run (about 70 s)
    min_timed_ops = 1

    def __init__(self, spark, work: str, seed: int, size: dict):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.cfg = DedupConfig()
        self.docs = size["fold_inc"]

    def generate(self) -> None:
        n_base, n_inc = self.size["fold_base"], self.size["fold_inc"]
        n = n_base + n_inc
        corpus = (
            generate_skewed_pages_distributed(
                self.spark, n, farm_frac=self.size["farm_frac"], seed=self.seed, slice_size=n
            )
            .withColumn("doc_id", F.xxhash64("url"))
            .withColumn("gid", F.substring_index("url", "/", -1).cast("long"))
            .toPandas()
        )
        self.paths = {}
        for part, rows in (("base", corpus["gid"] < n_base), ("inc", corpus["gid"] >= n_base)):
            self.paths[part] = os.path.join(self.work, f"{part}.parquet")
            corpus[rows].to_parquet(self.paths[part], index=False)
        stride = max(2, int(round(1.0 / self.size["farm_frac"])))
        farm = corpus[corpus["gid"] % stride == 0]
        self.truth = pd.Series("farm", index=farm["doc_id"].values)
        self.ref = None

    def setup(self) -> None:
        self.inc_df = self.spark.read.parquet(self.paths["inc"])
        self.base_root = os.path.join(self.work, "base_index")
        base = self.spark.read.parquet(self.paths["base"])
        DedupIndex(self.base_root, self.cfg).add_increment(base, "doc_id", "text")
        self.input_bytes = sum(_du(p) for p in self.paths.values())
        self._op_no = 0

    def reference(self) -> None:
        """From-scratch exact ∪ MinHash ∪ SimHash -> CC over base ∪ increment."""
        corpus = self.spark.read.parquet(*self.paths.values())
        ref = DedupIndex(os.path.join(self.work, "batch_ref"), self.cfg).add_increment(
            corpus, "doc_id", "text"
        )
        self.ref = ref.toPandas().set_index("id")["cluster_id"]

    def restore(self) -> str:
        root = os.path.join(self.work, f"index{self._op_no}")
        shutil.rmtree(os.path.join(self.work, f"index{self._op_no - 1}"), ignore_errors=True)
        shutil.copytree(self.base_root, root)
        self._op_no += 1
        return root

    def op(self, root: str):
        return DedupIndex(root, self.cfg).add_increment(self.inc_df, "doc_id", "text")

    def check(self, root: str, labels) -> dict:
        got = _read_output(labels, ["id", "cluster_id"]).set_index("id")["cluster_id"]
        scores = pair_scores(got, self.truth)
        out = {
            "ok": (
                len(got) == self.size["fold_base"] + self.docs
                and scores["recall"] >= FOLD_FLOORS["recall"]
                and scores["precision"] >= FOLD_FLOORS["precision"]
            ),
            "identity": _checksum(got),
            "recall": scores["recall"],
            "precision": scores["precision"],
        }
        if self.ref is not None:
            diff = partition_diff(got, self.ref)
            # the fold's declared contract: it keeps at least the batch
            # run's connectivity, so no batch cluster may be split
            out["ok"] = out["ok"] and diff["split_docs"] == 0
            out["batch_label_mismatch_docs"] = diff["mismatch_docs"]
        return out

    # --- traced run ------------------------------------------------------
    def trace(self, tracer, last_op_wall_s: float, last_workdir: str) -> dict:
        """One fold re-run as the separate calls add_increment makes."""
        spark, cfg = self.spark, self.cfg
        root = self.restore()
        idx = DedupIndex(root, cfg)
        n = idx.meta()["n_increments"]
        rounds = []
        with tracer.span("incremental"):
            with tracer.span("incremental.sign"):
                _signed_increment(self.inc_df, "doc_id", "text", cfg).write.mode(
                    "overwrite"
                ).parquet(idx._sig_dir(n))
                new_sigs = spark.read.parquet(idx._sig_dir(n))
            with tracer.span("incremental.index_scan"):
                old_sigs = idx.signatures(spark, upto=n)
                old_labels = idx.labels(spark)
                # the scan every pairing join below repeats, timed once
                old_sigs.write.format("noop").mode("overwrite").save()
            with tracer.span("incremental.minhash"):
                lsh, _hot = incremental_minhash_edges(
                    new_sigs.select("id", "minhash"), old_sigs.select("id", "minhash"), cfg
                )
                lsh_dir = os.path.join(self.work, "traced_lsh")
                lsh.write.parquet(lsh_dir)
                release_cached_deps(lsh)
            with tracer.span("incremental.exact"):
                exact_dir = os.path.join(self.work, "traced_exact")
                incremental_exact_edges(
                    new_sigs.select("id", "text_md5"), old_sigs.select("id", "text_md5")
                ).write.parquet(exact_dir)
            with tracer.span("incremental.simhash"):
                sim = incremental_simhash_edges(
                    new_sigs.select("id", "simhash"), old_sigs.select("id", "simhash"), cfg
                )
                sim_dir = os.path.join(self.work, "traced_sim")
                sim.write.parquet(sim_dir)
                release_cached_deps(sim)
            with tracer.span("incremental.fold_labels"):
                edges = (
                    spark.read.parquet(lsh_dir)
                    .unionByName(spark.read.parquet(exact_dir))
                    .unionByName(spark.read.parquet(sim_dir))
                )
                labels = fold_labels(
                    old_labels,
                    edges.distinct(),
                    new_sigs.select("id"),
                    on_iteration=lambda it, k: rounds.append(k),
                )
                labels.write.mode("overwrite").parquet(idx._label_dir(n))
            with tracer.span("incremental.commit"):
                out = spark.read.parquet(idx._label_dir(n))
                total = out.count()
                added = new_sigs.count()
                idx._write_meta(
                    {
                        "cfg_fp": cfg.fingerprint(),
                        "use_simhash": idx.use_simhash,
                        "n_increments": n + 1,
                        "total_docs": total,
                    }
                )
        new_edges = edges.distinct().count()
        old_bands = band_table(old_sigs.select("id", "minhash"), "id", cfg)
        touched = band_table(new_sigs.select("id", "minhash"), "id", cfg).select("band_key").distinct()
        old_rows = old_bands.count()
        touched_rows = old_bands.join(touched, "band_key", "left_semi").count()
        got = out.toPandas().set_index("id")["cluster_id"]
        if total != len(self.ref) or added != self.docs:
            raise RuntimeError(f"traced fold labelled {total} docs, expected {len(self.ref)}")
        counts = {
            "incremental.new_edges": new_edges,
            "incremental.old_rows_touched_ratio": touched_rows / old_rows,
            "incremental.index_bytes_per_input_byte": _du(root) / self.input_bytes,
            "incremental.batch_label_mismatch_docs": partition_diff(got, self.ref)["mismatch_docs"],
            "cc.rounds": len(rounds),
            "cc.edges_in": new_edges,
        }
        return {"counts": counts, "op_wall_s": last_op_wall_s, "root": "incremental"}


WORKLOADS = {w.name: w for w in (PipelinePlanted, FoldHotFarm)}
