"""The three workloads: inputs, one checked pass, one traced pass.

Each workload writes its seeded input once (``prepare``), then the
harness calls ``run_pass`` repeatedly: read the input, call the engine's
public entry point, collect the result and check it against the planted
truth. ``traced_pass`` calls, in the same order, the public functions
that entry point composes, each inside a layer span, and returns the
same kind of result so the harness can check that both agree.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from dedupbench import gen
from dedupbench.score import pair_counts, pair_scores, ratios
from dedupbench.trace import Tracer, materialize


@dataclass
class Outcome:
    result: object                      # compared between traced/untraced
    problems: list[str] = field(default_factory=list)
    recall: float | None = None
    precision: float | None = None


def _check_clusters(clusters: dict[str, str], truth: dict,
                    min_recall: float, min_precision: float) -> Outcome:
    """Structural checks (every id exactly once, cluster id = smallest
    member id) plus pair recall/precision floors."""
    out = Outcome(result=clusters)
    members: dict[str, str] = {}
    for i, c in clusters.items():
        members[c] = min(members.get(c, i), i)
    bad = sum(1 for c, m in members.items() if c != m)
    if bad:
        out.problems.append(f"{bad} clusters not labelled by their min id")
    try:
        out.recall, out.precision = pair_scores(truth, clusters)
    except ValueError as e:
        out.problems.append(str(e))
        return out
    if out.recall < min_recall:
        out.problems.append(f"recall {out.recall:.4f} < {min_recall}")
    if out.precision < min_precision:
        out.problems.append(f"precision {out.precision:.4f} < {min_precision}")
    return out


class Workload:
    name = ""

    def __init__(self, scratch: str, seed: int, slots: int):
        self.dir = os.path.join(scratch, self.name)
        self.seed = seed
        self.slots = slots

    def prepare(self) -> None:
        raise NotImplementedError

    def run_pass(self, spark) -> Outcome:
        raise NotImplementedError

    def traced_pass(self, spark, t: Tracer) -> Outcome:
        raise NotImplementedError


# ------------------------------------------------------------ images

class ImagePipeline(Workload):
    """``DedupPipeline(DedupConfig()).run`` with library defaults over
    the engine's image+caption corpus."""

    name = "image_pipeline"
    rows = 2000

    def prepare(self) -> None:
        pdf, self.truth = gen.image_corpus(self.seed, self.rows)
        self.path = os.path.join(self.dir, "images")
        gen.write_parquet_files(pdf, self.path, self.slots)

    def _check(self, clusters: dict[str, str], report) -> Outcome:
        # the synth golden contract: dup-pair recall/precision >= 0.99
        out = _check_clusters(clusters, self.truth, 0.99, 0.99)
        sizes: dict[str, int] = {}
        for c in clusters.values():
            sizes[c] = sizes.get(c, 0) + 1
        groups = sum(1 for n in sizes.values() if n > 1)
        if report.record_count != self.rows:
            out.problems.append(f"report.record_count {report.record_count}")
        if report.distinct_dupe_count != groups:
            out.problems.append(
                f"report.distinct_dupe_count {report.distinct_dupe_count} "
                f"!= {groups} multi-member clusters")
        return out

    def run_pass(self, spark) -> Outcome:
        from deduper_spark.config import DedupConfig
        from deduper_spark.pipeline import DedupPipeline
        from deduper_spark.sources.readers import read_parquet

        df = read_parquet(spark, self.path)
        res = DedupPipeline(DedupConfig()).run(spark, df)
        clusters = {r["image_id"]: r["cluster_id"]
                    for r in res.clusters.collect()}
        return self._check(clusters, res.report)

    def traced_pass(self, spark, t: Tracer) -> Outcome:
        """DedupPipeline.run for the default config (all five families,
        full PSNR verification), one layer call per span."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from deduper_spark.config import DedupConfig
        from deduper_spark.operators.cc import connected_components
        from deduper_spark.operators.lsh import (
            array_band_buckets, candidate_pairs, hamming_candidate_pairs,
            int64_band_buckets, union_pairs)
        from deduper_spark.operators.suffix import containment_pairs
        from deduper_spark.operators.verify import verify_jaccard, verify_psnr
        from deduper_spark.pipeline import DedupPipeline
        from deduper_spark.report import DedupeReport
        from deduper_spark.sources.readers import read_parquet

        pipe = DedupPipeline(DedupConfig())
        cfg = pipe.config.fuzzy
        with t.span("pass"):
            with t.span("sources"):
                df, _ = materialize(read_parquet(spark, self.path))
            with t.span("features"):
                feats, n_feats = materialize(pipe.features(df))
            with t.span("exact"):
                gmin = F.min("id").over(Window.partitionBy("exact_hash"))
                exact_edges, _ = materialize(
                    feats.select("exact_hash", "id")
                    .withColumn("gmin", gmin)
                    .where(F.col("id") != F.col("gmin"))
                    .select(F.col("gmin").alias("id_l"),
                            F.col("id").alias("id_r"),
                            F.array(F.lit("exact")).alias("families")))
            with t.span("lsh") as lsh1:
                bb = array_band_buckets(feats, "id", "minhash_buckets",
                                        "minhash")
                mh_pairs, mh_dropped = candidate_pairs(bb, cfg.max_bucket_size)
                mh_pairs, n_mh = materialize(mh_pairs)
            with t.span("verify") as ver1:
                mh_ok, n_mh_ok = materialize(
                    verify_jaccard(mh_pairs, feats, "shingle_hashes",
                                   cfg.jaccard_threshold).drop("jaccard"))
            with t.span("lsh") as lsh2:
                hb = int64_band_buckets(
                    feats, "id", "simhash", cfg.phash_band_bits, "simhash",
                    cfg.simhash_hamming_threshold).unionByName(
                    int64_band_buckets(
                        feats, "id", "phash", cfg.phash_band_bits, "phash",
                        cfg.phash_hamming_threshold))
                ham_pairs, ham_dropped = hamming_candidate_pairs(
                    hb, cfg.max_bucket_size)
                ham_pairs, n_ham = materialize(ham_pairs)
                fuzzy_ok, _ = materialize(union_pairs(mh_ok, ham_pairs))
            with t.span("verify") as ver2:
                img = df.select(F.col(pipe.config.order_col).alias("id"),
                                "bytes")
                phash_only_pred = (F.array_contains("families", "phash")
                                   & (F.size("families") == 1))
                phash_only, n_phash_only = materialize(
                    fuzzy_ok.where(phash_only_pred))
                confirmed, n_confirmed = materialize(
                    verify_psnr(phash_only, img,
                                cfg.psnr_threshold_db).drop("psnr"))
                fuzzy_verified, _ = materialize(
                    fuzzy_ok.where(~phash_only_pred).unionByName(confirmed))
            with t.span("substring") as sub_span:
                sub, n_sub = materialize(containment_pairs(
                    feats.select("id", "norm_caption", "shingle_hashes")))
            edges, n_edges = materialize(
                union_pairs(exact_edges, fuzzy_verified, sub))
            with t.span("cc") as cc:
                labeled = connected_components(
                    edges, nodes=feats.select("id"), edges_distinct=True)
                rows = labeled.select(F.col("id").alias("image_id"),
                                      "cluster_id").collect()
        # domain counts, outside every span so they add no layer work
        lsh1.add(candidates=n_mh, **_hot(bb, mh_dropped, cfg.max_bucket_size))
        lsh2.add(candidates=n_ham,
                 **_hot(hb, ham_dropped, cfg.max_bucket_size))
        ver1.add(pairs_in=n_mh, pairs_ok=n_mh_ok)
        ver2.add(pairs_in=n_phash_only, pairs_ok=n_confirmed)
        cc.add(edges_in=n_edges)
        sub_span.add(pairs=n_sub)
        clusters = {r["image_id"]: r["cluster_id"] for r in rows}
        sizes: dict[str, int] = {}
        for c in clusters.values():
            sizes[c] = sizes.get(c, 0) + 1
        report = DedupeReport(
            record_count=n_feats,
            distinct_dupe_count=sum(1 for n in sizes.values() if n > 1))
        return self._check(clusters, report)


def _hot(buckets, dropped, max_bucket_size: int) -> dict[str, int]:
    """Buckets over ``max_bucket_size`` (salted or dropped) and the rows
    in buckets the engine dropped outright."""
    from pyspark.sql import functions as F

    hot = (buckets.groupBy("family", "band", "bucket").count()
           .where(F.col("count") > max_bucket_size).count())
    rows = dropped.agg(F.coalesce(F.sum("bucket_size"), F.lit(0))
                       .alias("n")).collect()[0]["n"]
    return {"hot_buckets": hot, "dropped_rows": int(rows)}


# -------------------------------------------------------------- text

class TextClusters(Workload):
    """``minhash_doc_clusters`` over a corpus with heavy-tailed planted
    clusters (hot cliques, chains, small cliques, singletons)."""

    name = "text_clusters"
    docs = 6000
    # a one-token edit keeps Jaccard near 0.9, so LSH misses a link
    # rarely; a split hot clique or broken chain costs far more
    min_recall = 0.95

    def prepare(self) -> None:
        pdf, self.truth = gen.text_corpus(self.seed, self.docs)
        self.path = os.path.join(self.dir, "docs")
        gen.write_parquet_files(pdf, self.path, self.slots)

    def run_pass(self, spark) -> Outcome:
        from deduper_spark.operators.dedup_text import minhash_doc_clusters
        from deduper_spark.sources.readers import read_parquet

        rows = minhash_doc_clusters(read_parquet(spark, self.path)).collect()
        clusters = {r["doc_id"]: r["cluster_id"] for r in rows}
        return _check_clusters(clusters, self.truth, self.min_recall, 0.99)

    def traced_pass(self, spark, t: Tracer) -> Outcome:
        """minhash_doc_clusters -> minhash_lsh_doc_pairs, one layer call
        per span; the feature projection is the one that function
        builds."""
        from pyspark.sql import functions as F

        from deduper_spark.config import FuzzyConfig
        from deduper_spark.functions.minhash import minhash_buckets_expr
        from deduper_spark.functions.text import (
            shingle_hashes_expr, shingles_expr, tokens_expr)
        from deduper_spark.operators.cc import connected_components
        from deduper_spark.operators.lsh import (
            array_band_buckets, candidate_pairs)
        from deduper_spark.operators.verify import verify_jaccard
        from deduper_spark.sources.readers import read_parquet

        cfg = FuzzyConfig()
        with t.span("pass"):
            with t.span("sources"):
                df, _ = materialize(read_parquet(spark, self.path))
            with t.span("features"):
                feats = (
                    df.select(
                        F.col("doc_id").alias("id"),
                        tokens_expr(F.coalesce(F.col("text"), F.lit("")))
                        .alias("tokens"))
                    .withColumn("shingle_hashes", shingle_hashes_expr(
                        shingles_expr("tokens", cfg.shingle_k)))
                    .withColumn("minhash_buckets", minhash_buckets_expr(
                        "shingle_hashes", cfg.num_perm, cfg.bands,
                        cfg.minhash_seed))
                    .select("id", "shingle_hashes", "minhash_buckets")
                    .localCheckpoint())
            with t.span("lsh") as lsh:
                bb = array_band_buckets(feats, "id", "minhash_buckets",
                                        "minhash")
                pairs, dropped = candidate_pairs(bb, cfg.max_bucket_size)
                pairs, n_pairs = materialize(pairs)
            with t.span("verify") as ver:
                ok, n_ok = materialize(
                    verify_jaccard(pairs, feats, "shingle_hashes",
                                   cfg.jaccard_threshold).drop("families"))
            with t.span("cc") as cc:
                comp = connected_components(
                    ok.select("id_l", "id_r"),
                    nodes=df.select(F.col("doc_id").alias("id")),
                    id_type=dict(df.dtypes)["doc_id"], edges_distinct=True)
                rows = comp.select(F.col("id").alias("doc_id"),
                                   "cluster_id").collect()
        lsh.add(candidates=n_pairs, **_hot(bb, dropped, cfg.max_bucket_size))
        ver.add(pairs_in=n_pairs, pairs_ok=n_ok)
        cc.add(edges_in=n_ok)
        clusters = {r["doc_id"]: r["cluster_id"] for r in rows}
        return _check_clusters(clusters, self.truth, self.min_recall, 0.99)


# ----------------------------------------------------------- tabular

class TabularIncremental(Workload):
    """The reference's exact-key semantics over sequential batches:
    exact dedup on the first batch, seen-hash incremental dedup against
    the previous ledger after that, the report, the target and dupes
    sinks with reconciliation, and a ledger write per batch."""

    name = "tabular_incremental"
    batches = 2
    rows = 20_000
    dup_share = 0.3

    def prepare(self) -> None:
        series = gen.table_batches(self.seed, self.batches, self.rows,
                                   self.dup_share)
        self.truth = series.truth
        for b, pdf in enumerate(series.batches):
            gen.write_parquet_files(pdf, self._path(b, "batch"), self.slots)

    def _path(self, b: int, what: str) -> str:
        return os.path.join(self.dir, f"b{b}", what)

    def _batch(self, spark, b: int, report, written: dict, ledger_rows: int,
               out: Outcome, pairs: list[int]) -> None:
        """Check one batch: report and sink counts against the expected
        counts, and the clustering the target and dupes sinks hold
        against the planted entities (pair counts add into ``pairs``)."""
        from deduper_spark.sources.readers import read_parquet

        want = self.truth[b]
        got = {
            "record_count": report.record_count,
            "hash_count": report.hash_count,
            "target": written.get("target"),
            "dupes": written.get("dupes"),
            "ledger": ledger_rows,
        }
        expect = {
            "record_count": want.rows - want.seen_rows,
            "hash_count": want.ledger_after,
            "target": want.survivors,
            "dupes": want.dupe_groups,
            "ledger": want.ledger_after,
        }
        for k, v in expect.items():
            if got[k] != v:
                out.problems.append(f"batch {b} {k}: got {got[k]}, want {v}")
        out.result.append(got)
        # survivors label themselves; a dupe group's later rows carry
        # the ordinal of its first row
        clusters = {int(r): int(r) for r in read_parquet(
            spark, self._path(b, "target")).select("row_id")
            .toPandas()["row_id"]}
        dupes = read_parquet(spark, self._path(b, "dupes")).select(
            "row_ids", "first_found_row_number").toPandas()
        for ids, first in zip(dupes["row_ids"],
                              dupes["first_found_row_number"]):
            for r in json.loads(ids):
                clusters[int(r)] = int(first)
        try:
            for k, v in enumerate(pair_counts(want.new_entity, clusters)):
                pairs[k] += v
        except ValueError as e:
            out.problems.append(f"batch {b}: {e}")

    def _finish(self, out: Outcome, pairs: list[int]) -> Outcome:
        out.recall, out.precision = ratios(*pairs)
        if out.recall < 1.0 or out.precision < 1.0:
            out.problems.append(
                f"exact dedup pair recall {out.recall:.6f}, "
                f"precision {out.precision:.6f}")
        return out

    def run_pass(self, spark) -> Outcome:
        from deduper_spark.operators.exact import build_report, exact_dedup
        from deduper_spark.operators.incremental import incremental_dedup
        from deduper_spark.sinks.writers import (
            write_dedup_outputs, write_parquet)
        from deduper_spark.sources.readers import read_parquet

        out, pairs = Outcome(result=[]), [0, 0, 0]
        keys = gen.TABLE_KEYS
        n_ledger = 0
        for b in range(self.batches):
            batch = read_parquet(spark, self._path(b, "batch"))
            if b == 0:
                res = exact_dedup(batch, keys, order_col="row_id")
                ledger_out = res.hash_ledger.select("hash")
            else:
                ledger = read_parquet(spark, self._path(b - 1, "ledger"))
                inc = incremental_dedup(batch, ledger, keys, order_col="row_id")
                res, ledger_out = inc.inner, inc.updated_ledger
            report = build_report(res, list(keys), batch.columns,
                                  preloaded_hash_count=n_ledger)
            written = write_dedup_outputs(
                spark, res, report, target_path=self._path(b, "target"),
                dupes_path=self._path(b, "dupes"))
            # the hashes sink is not used: see README, "Hashes-sink defect"
            write_parquet(ledger_out, self._path(b, "ledger"))
            n_ledger = read_parquet(spark, self._path(b, "ledger")).count()
            self._batch(spark, b, report, written, n_ledger, out, pairs)
        return self._finish(out, pairs)

    def traced_pass(self, spark, t: Tracer) -> Outcome:
        from deduper_spark.operators.exact import build_report, exact_dedup
        from deduper_spark.operators.incremental import incremental_dedup
        from deduper_spark.sinks.writers import (
            write_dedup_outputs, write_parquet)
        from deduper_spark.sources.readers import read_parquet

        out, pairs = Outcome(result=[]), [0, 0, 0]
        keys = gen.TABLE_KEYS
        n_ledger = 0
        with t.span("pass"):
            for b in range(self.batches):
                with t.span("sources"):
                    batch, n_rows = materialize(
                        read_parquet(spark, self._path(b, "batch")))
                    if b:
                        ledger, _ = materialize(read_parquet(
                            spark, self._path(b - 1, "ledger")))
                if b == 0:
                    with t.span("exact"):
                        res = exact_dedup(batch, keys, order_col="row_id")
                        report = build_report(res, list(keys), batch.columns)
                    ledger_out = res.hash_ledger.select("hash")
                else:
                    with t.span("incremental") as inc_span:
                        inc = incremental_dedup(batch, ledger, keys,
                                                order_col="row_id")
                        _, n_new = materialize(inc.new_rows)
                    inc_span.add(seen_rows=n_rows - n_new,
                                 ledger_rows=n_ledger)
                    with t.span("exact"):
                        res, ledger_out = inc.inner, inc.updated_ledger
                        report = build_report(
                            res, list(keys), batch.columns,
                            preloaded_hash_count=n_ledger)
                with t.span("sinks") as sinks:
                    written = write_dedup_outputs(
                        spark, res, report,
                        target_path=self._path(b, "target"),
                        dupes_path=self._path(b, "dupes"))
                    write_parquet(ledger_out, self._path(b, "ledger"))
                    n_ledger = read_parquet(
                        spark, self._path(b, "ledger")).count()
                sinks.add(readback_rows=sum(written.values()) + n_ledger)
                self._batch(spark, b, report, written, n_ledger, out,
                            pairs)
        return self._finish(out, pairs)


WORKLOADS = {w.name: w for w in (ImagePipeline, TextClusters,
                                  TabularIncremental)}
