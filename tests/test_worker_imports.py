"""Python workers import kmr_spark wherever the driver was started.

Spark starts its Python workers in the driver's working directory with
only Spark's own PYTHONPATH, so a UDF that imports ``kmr_spark`` (the
multimodal codecs, the KVS redfn median, the trimmed-mean UDAF) used to
fail with ``ModuleNotFoundError`` when the driver did not start in the
repo.  ``get_spark`` ships the package directory to the workers.
"""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = f"""
import sys
sys.path.insert(0, {REPO!r})
from kmr_spark.session import get_spark

def probe(batches):
    import kmr_spark.functions
    yield from batches

spark = get_spark("worker-imports", shuffle_partitions=1)
print("rows", len(spark.range(3).mapInPandas(probe, "id long").collect()))
spark.stop()
"""


def test_workers_import_kmr_spark_from_a_foreign_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run([sys.executable, "-c", PROBE], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "rows 3" in proc.stdout
