"""The benchmark's workloads: which operations one pass runs, and how
each operation's output is checked.

An operation is one registered query of ``__spark_entry__.queries()``
forced through the noop sink, or one epoch of the exact-dedup
admission door ``streaming.jobs.dedup_admit_fn``. A pass runs every
operation of its workload once, in an order the seed rotates.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

#: name of the admission unit inside a pass's operation list
ADMIT = "dedup_admit"


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    #: epochs of the exact-dedup admission door per pass (0: none)
    admit_epochs: int = 0
    #: untimed noop-sink passes after the checked warm-up pass, until
    #: the CPU time per pass stops falling: the first executions of
    #: each query run cold code (interpreted, then compiled); after
    #: the check, taxi_sql's CPU per pass fell for four passes and
    #: corpus_dedup's for three
    warmup_passes: int = 1

    def units(self) -> list[str]:
        """Rotation units: each query, plus the admission epochs as
        one block (epochs of a pass must run in order)."""
        return list(self.queries) + ([ADMIT] if self.admit_epochs else [])

    def pass_ops(self, seed: int, pass_no: int) -> list[str]:
        """Operation names of pass ``pass_no`` under ``seed``: the unit
        list rotated by ``seed + pass_no``, admission expanded to
        ``dedup_admit:<epoch>``."""
        units = self.units()
        k = (seed + pass_no) % len(units)
        ops: list[str] = []
        for u in units[k:] + units[:k]:
            if u == ADMIT:
                ops += [f"{ADMIT}:{e}" for e in range(self.admit_epochs)]
            else:
                ops.append(u)
        return ops


WORKLOADS = {w.name: w for w in (
    Workload(
        "taxi_sql",
        "JVM-codegen scans, aggregates and joins with short plans: "
        "Catalyst and the sources schema reads show, Python workers "
        "and driver loops do not",
        ("demand_heatmap", "tip_trends", "popular_routes",
         "payment_analysis", "fare_anomalies", "star_join_revenue",
         "tpch_q3_sql"),
        warmup_passes=4),
    Workload(
        "iterative",
        "driver-side loops: plan build and the driver actions run "
        "while building dominate each query",
        ("pagerank", "label_propagation", "shortest_paths",
         "knn_communities")),
    Workload(
        "corpus_dedup",
        "Python-worker codecs, shuffle-heavy MinHash dedup, and "
        "incremental admission writing an on-disk corpus",
        ("jsonl_ingest", "minhash_dedup"),
        admit_epochs=2, warmup_passes=3),
)}


class Admission:
    """State of the exact-dedup admission door for one run: the
    seeded batch split, materialized once in set-up, and a corpus
    directory each pass starts empty."""

    def __init__(self, spark, sf_dir: str, work_dir: str, epochs: int,
                 seed: int):
        from pyspark.sql import functions as F

        from nyctaxidatapipeline_spark.sources import load_table

        docs = load_table(spark, sf_dir, "documents").select("doc_id",
                                                             "text")
        split = F.pmod(F.xxhash64("doc_id", F.lit(seed)), F.lit(epochs))
        self.batches = [docs.filter(split == e).localCheckpoint()
                        for e in range(epochs)]
        self.offered = sum(b.count() for b in self.batches)
        self.corpus_dir = os.path.join(work_dir, "admitted")

    def reset(self) -> None:
        shutil.rmtree(self.corpus_dir, ignore_errors=True)
        os.makedirs(self.corpus_dir)
        from nyctaxidatapipeline_spark.streaming.jobs import dedup_admit_fn
        self._fn = dedup_admit_fn(self.corpus_dir, "text", "doc_id")

    def run_epoch(self, epoch: int) -> None:
        self._fn(self.batches[epoch], epoch)

    def admitted_ids(self, spark) -> set[int]:
        return {r.doc_id for r in spark.read.option(
            "basePath", self.corpus_dir).parquet(self.corpus_dir)
            .select("doc_id").collect()}

    def twin_ids(self) -> set[int]:
        """Batch twin of the door, in plain Python: per epoch in order,
        the smallest id of each normalized text not admitted before."""
        seen: set[str] = set()
        out: set[int] = set()
        for b in self.batches:
            reps: dict[str, int] = {}
            for r in b.collect():
                key = " ".join(r.text.lower().split())
                if key not in seen:
                    reps[key] = min(r.doc_id, reps.get(key, r.doc_id))
            seen.update(reps)
            out.update(reps.values())
        return out
