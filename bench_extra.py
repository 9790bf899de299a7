"""Per-query measurement harness for the optimization rounds.

NOT the driver bench (bench.py is frozen): this tool times individual
registry queries with the same cold-then-3-warm-medians methodology,
optionally through the noop sink (guide §1.4) so the computation is
timed rather than the count()-pruned subtree, and dumps
``explain("formatted")`` plans to plans/r07/.

Usage:
    python bench_extra.py time  q1_pricing_summary dedup_minhash_lsh ...
    python bench_extra.py noop  q1_pricing_summary ...
    python bench_extra.py plan  q1_pricing_summary --suffix before
    python bench_extra.py time  --all-headline
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE  # noqa: E402


def main() -> None:
    mode = sys.argv[1]
    args = [a for a in sys.argv[2:] if not a.startswith("--")]
    flags = [a for a in sys.argv[2:] if a.startswith("--")]
    suffix = "before"
    for f in flags:
        if f.startswith("--suffix="):
            suffix = f.split("=", 1)[1]
    names = HEADLINE if "--all-headline" in flags else args

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from cdrc_semantic_search_spark.plans.catalog_queries import REGISTRY
    from cdrc_semantic_search_spark.session import get_spark

    spark = get_spark(app_name="cdrc-bench-extra", parallelism=None)
    spark.sparkContext.setLogLevel("ERROR")
    for t in ("lineitem", "embeddings", "documents"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()

    if mode == "plan":
        os.makedirs("plans/r07", exist_ok=True)
        import contextlib
        import io

        for name in names:
            df = REGISTRY[name].fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            txt = buf.getvalue()
            path = f"plans/r07/{name}_{suffix}.txt"
            with open(path, "w") as fh:
                fh.write(txt)
            print("wrote", path)
        spark.stop()
        return

    def run_once(name: str) -> float:
        fn = REGISTRY[name].fn
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        t0 = time.time()
        if mode == "noop":
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        else:
            fn(spark, sf_dir).count()
        dt = time.time() - t0
        spark.sparkContext.setJobDescription(None)
        return dt

    out: dict[str, dict] = {}
    for name in names:
        cold = run_once(name)
        warms = sorted(run_once(name) for _ in range(3))
        out[name] = {
            "cold": round(cold, 3),
            "warm_med": round(warms[1], 3),
            "warm_min": round(warms[0], 3),
        }
        print(json.dumps({name: out[name]}))
    print(json.dumps({"mode": mode, "results": out}))
    spark.stop()


if __name__ == "__main__":
    main()
