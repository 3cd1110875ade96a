"""``clips_mixed``: the flagship near-duplicate pipeline over synthetic clips.

The corpus is ``bench.py``'s mix (``generate_clips_spark``: groups of 1-5
clips perturbed by exact copy, mu-law, trim, gain or a transcript edit),
with as many groups as it takes to reach ``TARGET_CLIPS`` clips, so the
input size barely moves with the seed.  One timed operation is one ``run_pipeline`` call plus
collecting its cluster table.  Each output is checked against the truth
tables: every clip assigned once, dup-pair recall >= ``MIN_RECALL``,
precision >= ``MIN_PRECISION``, and the same assignment on every execution.

In the traced run each warm execution runs under a span and job group
(the pipeline's job, task and driver-gap counts), and the run then adds:

* one mirrored execution of the pipeline's layers, each forced inside its
  own span (the pipeline leaves ``bands`` lazy, so its compute would land
  in ``lsh``);
* the incremental path on the same corpus: ``save_history`` of the mirrored
  result, then ``BATCHES`` batches through ``incremental_dedup`` and
  ``fold_history``.  A quarter of each batch re-generates history groups
  under fresh ids, so new-old pairs and cluster merges happen.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass
from itertools import combinations

import numpy as np
import pyarrow.parquet as pq

from perfbench.harness import median
from perfbench.tracing import EventLog, driver_time

TARGET_CLIPS = 480
TINY_CLIPS = 100
MIN_RECALL = 0.99
MIN_PRECISION = 0.95
GEN_REPEATS = 3
BATCHES = 2


@dataclass
class Corpus:
    clips: object  # DataFrame
    ids: list[str]
    truth_pairs: set[tuple[str, str]]
    group_ids: dict[int, list[str]]


def groups_for(seed: int, target_clips: int) -> int:
    """Fewest groups of the seed's group plan holding ``target_clips`` clips
    (plans are prefix-stable: the first n sizes do not depend on the total)."""
    from datasketches_pig_spark.data.clips import plan_groups

    sizes = plan_groups(seed, target_clips)
    return int(np.searchsorted(np.cumsum(sizes), target_clips) + 1)


def _group_plan(seed: int, n_groups: int) -> dict[int, list[str]]:
    from datasketches_pig_spark.data.clips import plan_groups

    sizes = plan_groups(seed, n_groups)
    offsets = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    return {
        g: [f"clip_{int(offsets[g]) + j:010d}" for j in range(int(sizes[g]))]
        for g in range(n_groups)
    }


def content_fingerprint(table) -> dict:
    """Clip count and a content hash of a clips table (pyarrow)."""
    rows = sorted(
        zip(*(table.column(c).to_pylist() for c in
              ("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript")))
    )
    h = hashlib.sha256()
    for cid, blob, sr, dur, codec, text in rows:
        h.update(f"{cid}|{sr}|{dur}|{codec}|{text}|".encode())
        h.update(hashlib.sha256(blob).digest())
    return {"clips": len(rows), "content_sha256": h.hexdigest()[:16]}


def probe() -> dict:
    """Fingerprint of four canonical groups: a change to the generator shows
    here whatever seed a run uses."""
    import pyarrow as pa

    from datasketches_pig_spark.data.clips import group_rows, make_word_pool

    pool = make_word_pool(42)
    rows = [r for g in range(4) for r in group_rows(42, g, 3, 3 * g, pool)]
    return content_fingerprint(pa.Table.from_pylist(rows))


def prepare(ctx, n_groups: int) -> tuple[float, Corpus, dict]:
    """Generate the corpus ``GEN_REPEATS`` times; returns the median
    generation time, the corpus and its fingerprint (untimed)."""
    from datasketches_pig_spark.data.clips import generate_clips_spark, generate_truth_spark

    times = []
    for i in range(GEN_REPEATS):
        t0 = time.perf_counter()
        out_dir = ctx.env.data_dir / f"gen{i}"
        clips = generate_clips_spark(ctx.spark, n_groups, seed=ctx.seed, out_dir=str(out_dir))
        times.append(time.perf_counter() - t0)
    table = pq.read_table(str(out_dir / "clips.parquet"))
    fp = content_fingerprint(table)
    pairs, _ = generate_truth_spark(ctx.spark, n_groups, seed=ctx.seed)
    truth = {(r["a"], r["b"]) for r in pairs.collect()}
    fp["truth_pairs"] = len(truth)
    corpus = Corpus(
        clips=clips,
        ids=table.column("clip_id").to_pylist(),
        truth_pairs=truth,
        group_ids=_group_plan(ctx.seed, n_groups),
    )
    return median(times), corpus, fp


def induced_pairs(assign: dict[str, str]) -> set[tuple[str, str]]:
    members: dict[str, list[str]] = {}
    for cid, root in assign.items():
        members.setdefault(root, []).append(cid)
    return {p for m in members.values() for p in combinations(sorted(m), 2)}


def check_clusters(rows, ids, truth_pairs, min_recall=MIN_RECALL, min_precision=MIN_PRECISION):
    """Problems with a (clip_id, cluster_id) table, and its quality stats."""
    problems = []
    assign = dict(rows)
    if len(rows) != len(assign):
        problems.append(f"{len(rows) - len(assign)} clips assigned more than once")
    if set(assign) != set(ids):
        problems.append(
            f"assigned ids differ from input: {len(set(ids) - set(assign))} missing, "
            f"{len(set(assign) - set(ids))} unknown"
        )
    induced = induced_pairs(assign)
    hit = len(induced & truth_pairs)
    recall = hit / len(truth_pairs) if truth_pairs else 1.0
    precision = hit / len(induced) if induced else 1.0
    if recall < min_recall:
        problems.append(f"dup_pair_recall {recall:.4f} < {min_recall}")
    if precision < min_precision:
        problems.append(f"dup_pair_precision {precision:.4f} < {min_precision}")
    stats = {
        "recall": recall,
        "precision": precision,
        "clusters": len(set(assign.values())),
        "hash": hashlib.sha256(repr(sorted(assign.items())).encode()).hexdigest(),
    }
    return problems, stats


class ClipsMixed:
    name = "clips_mixed"
    # the JIT speeds the pipeline up over its first ~6 warm executions; two
    # run untimed and the median of the next three counts, the same
    # executions in every run
    warmup, min_warm = 2, 3
    probe = staticmethod(probe)

    def __init__(self, ctx):
        self.ctx = ctx
        target = TINY_CLIPS if ctx.tiny else TARGET_CLIPS
        self.n_groups = groups_for(ctx.seed, target)
        self.size = f"clips>={target}"
        self.first_hash = None
        self.quality: list[dict] = []

    def prepare(self) -> tuple[float, dict]:
        prep_s, self.corpus, fp = prepare(self.ctx, self.n_groups)
        return prep_s, fp

    @property
    def n_items(self) -> int:
        return len(self.corpus.ids)

    def _check(self, rows) -> list[str]:
        problems, stats = check_clusters(rows, self.corpus.ids, self.corpus.truth_pairs)
        if self.first_hash is None:
            self.first_hash = stats["hash"]
        elif stats["hash"] != self.first_hash:
            problems.append("cluster assignment differs from the first execution")
        self.quality.append(stats)
        return problems

    def _run_pipeline(self):
        from datasketches_pig_spark.config import DedupConfig
        from datasketches_pig_spark.pipeline import run_pipeline

        res = run_pipeline(self.ctx.spark, self.corpus.clips, DedupConfig())
        return [(r["clip_id"], r["cluster_id"]) for r in res.clusters.collect()]

    @staticmethod
    def warm_wall(times: list[float]) -> float:
        return median(times)

    def execute(self, label: str, traced: bool) -> float:
        if not traced:
            return self.ctx.ledger.run(label, self._run_pipeline, self._check)[0]
        with self.ctx.tracer.span(f"pipeline.{label}"):
            return self.ctx.ledger.run(label, self._run_pipeline, self._check)[0]

    # ---------------------------------------------------------------- traced
    def warm_pair(self, i: int) -> tuple[float, float]:
        """Two traced and two plain warm executions in ABBA order; returns
        the mean of each kind."""
        t1 = self.execute("warm", True)
        p1 = self.execute("warm", False)
        p2 = self.execute("warm", False)
        t2 = self.execute("warm", True)
        return (t1 + t2) / 2, (p1 + p2) / 2

    def traced_extra(self) -> None:
        self._mirror()
        self._incremental()

    def _mirror(self) -> None:
        """The pipeline's layers in run_pipeline's order, each forced in its
        own span.  Its clusters must equal run_pipeline's."""
        import pyspark.sql.functions as F

        from datasketches_pig_spark.config import DedupConfig
        from datasketches_pig_spark.incremental import all_bands
        from datasketches_pig_spark.operators.lsh import (
            candidate_pairs,
            derived_shuffle_partitions,
            release_shard_caches,
        )
        from datasketches_pig_spark.operators.stages import signature_stage
        from datasketches_pig_spark.operators.unionfind import connected_components
        from datasketches_pig_spark.operators.verify import verify_pairs

        spark, tr, cfg, clips = self.ctx.spark, self.ctx.tracer, DedupConfig(), self.corpus.clips
        rows = self.rows = {}
        with tr.span("pipeline.mirror"):
            with tr.span("signature"):
                sigs = signature_stage(clips, cfg).localCheckpoint()
                with tr.span("signature.count"):
                    rows["signature.rows_out"] = n_sigs = sigs.count()
            with tr.span("bands"):
                bands = all_bands(sigs, cfg).localCheckpoint()
                rows["bands.rows_out"] = bands.count()
            parts = derived_shuffle_partitions(
                spark, n_sigs * (2 * cfg.band_count + 1), rows_per_task=20_000
            )
            with tr.span("lsh"):
                cand = (
                    candidate_pairs(bands, cfg, num_partitions=parts)
                    .repartition(parts, "a", "b")
                    .distinct()
                    .localCheckpoint()
                )
                rows["lsh.rows_out"] = cand.count()
                release_shard_caches()
            with tr.span("verify"):
                verified = verify_pairs(
                    cand, sigs, cfg,
                    transcripts=clips.select("clip_id", "transcript"),
                    n_signatures=n_sigs,
                ).localCheckpoint()
                edges = verified.filter(F.col("is_dup")).select("a", "b").localCheckpoint()
                rows["verify.dup_out"] = edges.count()
            with tr.span("unionfind"):
                clusters = connected_components(edges, sigs.select("clip_id"), cfg).localCheckpoint()
                out = [(r["clip_id"], r["cluster_id"]) for r in clusters.collect()]
        rows["verify.rows_in"] = rows["lsh.rows_out"]
        rows["unionfind.edges_in"] = rows["verify.dup_out"]
        rows["unionfind.clusters_out"] = len({c for _, c in out})
        self.ctx.ledger.record("pipeline.mirror", self._check(out))
        self.history = (sigs, clusters, dict(out))

    def _batch(self, b: int, next_index: int) -> tuple[list[dict], dict[str, int]]:
        """Rows of batch ``b`` and each new clip's truth group (history
        group ids re-generated under fresh clip ids, or fresh groups)."""
        from datasketches_pig_spark.data.clips import (
            GROUP_SIZE_CHOICES,
            group_rows,
            make_word_pool,
        )

        seed, n_groups = self.ctx.seed, self.n_groups
        rng = np.random.default_rng([seed, 0xBA7C4, b])
        pool = make_word_pool(seed)
        # 3% of the history's groups re-generated, three times as many fresh
        n_old = max(2, 3 * n_groups // 100)
        old = rng.choice(n_groups, n_old, replace=False)
        fresh = n_groups + 10_000 * (b + 1) + np.arange(3 * n_old)
        rows, group_of = [], {}
        for g in [*old.tolist(), *fresh.tolist()]:
            if g < n_groups:
                size = len(self.corpus.group_ids[g])
            else:
                size = int(GROUP_SIZE_CHOICES[int(rng.integers(len(GROUP_SIZE_CHOICES)))])
            grows = group_rows(seed, int(g), size, next_index, pool)
            next_index += size
            rows.extend(grows)
            for r in grows:
                group_of[r["clip_id"]] = int(g)
        return rows, group_of

    def _incremental(self) -> None:
        import pandas as pd

        from datasketches_pig_spark.config import DedupConfig
        from datasketches_pig_spark.data.clips import CLIPS_SCHEMA
        from datasketches_pig_spark.incremental import (
            fold_history,
            incremental_dedup,
            save_history,
        )

        ctx, tr, cfg = self.ctx, self.ctx.tracer, DedupConfig()
        spark = ctx.spark
        base = str(ctx.env.work / "history")
        prefix = f"pb_{tr.run_id}"
        sigs, clusters, assign = self.history
        with tr.span("incremental.history"):
            save_history(spark, sigs, clusters, cfg, base, prefix)

        members = {g: list(ids) for g, ids in self.corpus.group_ids.items()}
        next_index = len(self.corpus.ids)
        old_text = self.corpus.clips.select("clip_id", "transcript")
        self.fold_io: list[tuple[int, int]] = []
        for b in range(BATCHES):
            rows, group_of = self._batch(b, next_index)
            next_index += len(rows)
            batch = spark.createDataFrame(pd.DataFrame(rows), CLIPS_SCHEMA).localCheckpoint()

            def dedup():
                res = incremental_dedup(spark, batch, cfg, prefix, old_transcripts=old_text)
                a = [(r["clip_id"], r["cluster_id"]) for r in res.assignments.collect()]
                m = [(r["old_cluster_id"], r["cluster_id"]) for r in res.merges.collect()]
                return res, a, m, res.verified.count()

            def check(out) -> list[str]:
                return _check_batch(assign, out[1], out[2], group_of, members)

            with tr.span("incremental.dedup") as span:
                _, out = ctx.ledger.run(f"incremental.dedup.{b}", dedup, check)
            if out is None:
                return
            res, a, m, n_pairs = out
            span.counts.update(pairs=n_pairs, merges=len(m))
            before = _tree_state(base)
            with tr.span("incremental.fold"):
                ctx.ledger.run(
                    f"incremental.fold.{b}",
                    lambda: fold_history(
                        spark, res.new_sigs, spark.createDataFrame(a, "clip_id string, cluster_id string"),
                        spark.createDataFrame(m, "old_cluster_id string, cluster_id string"),
                        cfg, base, prefix,
                    ),
                    lambda _: [],
                )
            self.fold_io.append(_written(before, _tree_state(base)))
            old_text = old_text.unionByName(batch.select("clip_id", "transcript"))
            # the driver's view of history after this fold
            remap = dict(m)
            assign = {c: remap.get(k, k) for c, k in assign.items()}
            assign.update(a)
            for cid, g in group_of.items():
                members.setdefault(g, []).append(cid)

    # --------------------------------------------------------------- metrics
    def layer_metrics(self, log: EventLog) -> dict[str, float]:
        tr = self.ctx.tracer
        m: dict[str, float] = dict(self.rows)

        def one(name):
            return tr.named(name)[0]

        for layer in ("signature", "bands", "lsh", "verify", "unionfind"):
            span = one(layer)
            g = log.for_subtree(tr, span)
            m[f"{layer}.wall_s"] = span.wall
            m[f"{layer}.tasks"] = g.tasks
            m[f"{layer}.cpu_s"] = g.cpu_s
            m[f"{layer}.shuffle_read_bytes"] = g.shuffle_read_bytes
            m[f"{layer}.shuffle_write_bytes"] = g.shuffle_write_bytes
            m[f"{layer}.spill_bytes"] = g.spill_bytes
            m[f"{layer}.python_bytes"] = g.python_bytes
            m[f"{layer}.python_s"] = g.python_s
            m[f"{layer}.jobs"] = g.jobs
            if layer == "unionfind":
                m["unionfind.driver_s"] = driver_time(span, g)
        m["signature.self_s"] = tr.self_time(one("signature"))
        m["lsh.dup_yield"] = m["verify.dup_out"] / max(m["lsh.rows_out"], 1)

        warm_spans = tr.named("pipeline.warm")
        stats = [log.for_subtree(tr, s) for s in warm_spans]
        m["pipeline.jobs"] = median(g.jobs for g in stats)
        m["pipeline.tasks"] = median(g.tasks for g in stats)
        m["pipeline.driver_gap_s"] = median(
            driver_time(s, g) for s, g in zip(warm_spans, stats)
        )
        layers = sum(one(x).wall for x in ("signature", "bands", "lsh", "verify", "unionfind"))
        m["pipeline.residual_s"] = median(s.wall for s in warm_spans) - layers

        dedup_spans = tr.named("incremental.dedup")
        dstats = [log.for_subtree(tr, s) for s in dedup_spans]
        m["incremental.dedup.wall_s"] = median(s.wall for s in dedup_spans)
        m["incremental.dedup.cpu_s"] = median(g.cpu_s for g in dstats)
        m["incremental.dedup.tasks"] = median(g.tasks for g in dstats)
        m["incremental.dedup.shuffle_read_bytes"] = median(g.shuffle_read_bytes for g in dstats)
        m["incremental.dedup.pairs"] = median(s.counts.get("pairs", 0) for s in dedup_spans)
        m["incremental.dedup.merges"] = median(s.counts.get("merges", 0) for s in dedup_spans)
        fold_spans = tr.named("incremental.fold")
        m["incremental.fold.wall_s"] = median(s.wall for s in fold_spans)
        m["incremental.fold.tasks"] = median(log.for_subtree(tr, s).tasks for s in fold_spans)
        m["incremental.fold.bytes_written"] = median(b for b, _ in self.fold_io)
        m["incremental.fold.files_written"] = median(f for _, f in self.fold_io)
        if self.fold_io:
            m["incremental.fold.bytes_growth"] = self.fold_io[-1][0] / max(self.fold_io[0][0], 1)
        last = self.quality[-1] if self.quality else {}
        m["quality.dup_pair_recall"] = last.get("recall", 0.0)
        m["quality.dup_pair_precision"] = last.get("precision", 0.0)
        return m


def _check_batch(assign, new_assign, merges, group_of, members) -> list[str]:
    """Recall of one batch's truth pairs: each new clip against every other
    clip of its group, in history or in the batch."""
    problems = []
    new = dict(new_assign)
    if set(new) != set(group_of):
        problems.append(f"{len(set(group_of) ^ set(new))} batch clips missing or unknown")
        return problems
    remap = dict(merges)
    cluster = {c: remap.get(k, k) for c, k in assign.items()}
    cluster.update(new)
    batch_members: dict[int, list[str]] = {}
    for cid, g in group_of.items():
        batch_members.setdefault(g, []).append(cid)
    truth = hit = 0
    for g, new_ids in batch_members.items():
        group = members.get(g, []) + new_ids
        for x, y in combinations(group, 2):
            if x in group_of or y in group_of:
                truth += 1
                hit += cluster.get(x) == cluster.get(y)
    recall = hit / truth if truth else 1.0
    if recall < MIN_RECALL:
        problems.append(f"batch dup_pair_recall {recall:.4f} < {MIN_RECALL}")
    return problems


def _tree_state(base: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(base):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before, after) -> tuple[int, int]:
    """(bytes, files) of files created or rewritten between two states."""
    changed = [p for p, s in after.items() if before.get(p) != s]
    return sum(after[p][0] for p in changed), len(changed)
