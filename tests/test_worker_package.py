"""The engine must not depend on its harness's working directory: the
pandas-UDF kernels import engine modules on the Python workers, so
``get_spark`` ships the package there. Run every worker-importing
similarity/clustering query from a foreign cwd with PYTHONPATH unset —
without the shipped package each one fails on the workers with
``ModuleNotFoundError: No module named 'quantum_rag_data_pipeline_spark'``."""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER_QUERIES = [
    "embedding_near_dup",
    "knn_graph_mutual",
    "knn_graph_incremental_parity",
    "semdedup_prune",
    "kmeans_one_step",
    "dbscan_core_border_noise",
]


def test_worker_queries_run_from_any_cwd(tmp_path, sf_dir):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from quantum_rag_data_pipeline_spark.queries import QUERIES
        from quantum_rag_data_pipeline_spark.session import get_spark
        spark = get_spark(master="local[2]", shuffle_partitions=4,
                          extra_conf={{"spark.driver.memory": "2g"}})
        spark.sparkContext.setLogLevel("ERROR")
        for name in {WORKER_QUERIES!r}:
            rows = QUERIES[name](spark, {os.path.abspath(sf_dir)!r}).collect()
            print("OK", name, len(rows), flush=True)
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "local")
    r = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=900)
    ok = [line.split()[1] for line in r.stdout.splitlines() if line.startswith("OK ")]
    assert ok == WORKER_QUERIES, r.stdout[-2000:] + r.stderr[-4000:]
