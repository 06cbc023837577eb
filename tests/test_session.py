"""Session hygiene: Python workers find the package from any working
directory, and the reader-plan memo dies with its session."""

from __future__ import annotations

import gc
import os
import subprocess
import sys
import weakref

from pyspark.sql.session import _monkey_patch_RDD

from data_collection_ieee_spark import catalog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A query whose Python UDFs pickle functions of the package, run from a
# working directory outside the repository with the package on the
# driver's sys.path only.
_UDF_QUERY = """
import sys
sys.path.insert(0, {repo!r})
from data_collection_ieee_spark import registry
from data_collection_ieee_spark.session import get_spark
registry.load_all()
spark = get_spark("cwd-probe")
print("ROWS", registry.QUERIES["sim_knn_join"](spark, {sf!r}).count())
spark.stop()
"""


def test_python_workers_import_package_outside_repo_cwd(sf_dir, tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "1"
    out = subprocess.run(
        [sys.executable, "-c", _UDF_QUERY.format(repo=REPO, sf=sf_dir)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ModuleNotFoundError" not in out.stderr
    assert int(out.stdout.split("ROWS")[-1]) > 0


def test_reader_memo_released_with_its_session(spark, sf_dir):
    """A dropped session and the reader plans it loaded are collectable:
    the memo does not pin them."""
    live = catalog.load_table(spark, sf_dir, "region")
    other = spark.newSession()
    try:
        df = catalog.load_table(other, sf_dir, "region")
        assert df is not live
        assert catalog.load_table(other, sf_dir, "region") is df
        session_ref, df_ref = weakref.ref(other), weakref.ref(df)
        del other, df
    finally:
        # pyspark's RDD.toDF closes over the newest session; point it
        # back at the test session
        _monkey_patch_RDD(spark)
    gc.collect()
    assert session_ref() is None
    assert df_ref() is None
    assert catalog.load_table(spark, sf_dir, "region") is live
