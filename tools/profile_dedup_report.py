"""Per-channel wall-clock breakdown of dedup_report (r18, guide §1).

dedup_report composes four lineages (canonical window, exact-text
Jaccard pairs, embedding cosine pairs, final join sheet). To find out
where its ~2 s actually goes, time each channel to a noop sink in one
warm session with bench hygiene (warm-up + min-of-2), at the graded
caps, under the same scoped width the declared query uses.

Usage: python tools/profile_dedup_report.py [--sf DIR]
Prints one JSON line {"parts": {...}, "sf": DIR}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> int:
    sf_dir = "/root/testdata/sf0.1"
    args = sys.argv[1:]
    it = iter(args)
    for a in it:
        if a == "--sf":
            sf_dir = next(it)

    from pyspark.sql import functions as F

    from iotstream.ext import dedup as xdedup
    from iotstream.ext.similarity import neardup_embedding
    from iotstream.schemas import load_table
    from iotstream.streaming import scoped_shuffle_partitions

    spark = bench._session(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def docs():
        return load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)

    def emb():
        return load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)

    def base_channel(spark, _):
        from pyspark.sql import Window

        d = docs()
        key = F.coalesce(
            F.sha2("text", 256),
            F.concat(F.lit("\x00null\x00"), F.col("doc_id").cast("string")),
        )
        canonical = F.min("doc_id").over(Window.partitionBy(key))
        with scoped_shuffle_partitions(spark, 8):
            return d.select(
                "doc_id",
                canonical.alias("canonical_id"),
                (F.col("doc_id") != canonical).alias("is_exact_dup"),
            ).localCheckpoint()

    def text_channel(spark, _):
        with scoped_shuffle_partitions(spark, 8):
            jp = xdedup.neardup_jaccard_exact(docs(), threshold=0.5)
            return (
                jp.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
                .distinct()
                .localCheckpoint()
            )

    def embed_channel(spark, _):
        with scoped_shuffle_partitions(spark, 8):
            ep = neardup_embedding(emb(), threshold=0.4)
            return (
                ep.select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
                .distinct()
                .localCheckpoint()
            )

    def emb_collect_only(spark, _):
        # just the toPandas collect the embedding kernel pays at build
        t0 = time.perf_counter()
        neardup_embedding(emb(), threshold=0.4)
        dt = time.perf_counter() - t0
        return spark.createDataFrame([(dt,)], "build_sec double")

    def full(spark, _):
        import __spark_entry__ as entrymod

        return entrymod.queries()["dedup_report"](spark, sf_dir)

    out: dict[str, float] = {}
    for name, fn in [
        ("full", full),
        ("base_window", base_channel),
        ("text_jaccard", text_channel),
        ("embed_cosine", embed_channel),
        ("emb_kernel_build(collect)", emb_collect_only),
        ("full2", full),
    ]:
        out[name] = round(bench._time_one(spark, fn, sf_dir), 3)
    print(json.dumps({"parts": out, "sf": sf_dir}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
