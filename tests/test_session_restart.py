"""The html pipeline in two successive SparkSessions of one process.

Run in a subprocess: the test suite's shared session must stay up. A UDF
object reused across sessions would still carry the first context's
accumulator, and every task of the second session would log a failed
accumulator update."""

import os
import subprocess
import sys

SCRIPT = """
from language_identification_spark.fixtures import pages_df, training_corpus
from language_identification_spark.oracle.langid import NgramNBModel
from language_identification_spark.plans.pipeline import quality_filter_plan
from language_identification_spark.session import get_spark

model = NgramNBModel.train(training_corpus())
runs = []
for i in range(2):
    spark = get_spark(f"restart{i}", cores=2, shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    runs.append(sorted(quality_filter_plan(pages_df(spark, 40), model).collect()))
    spark.stop()
assert runs[0] == runs[1]
print(len(runs[1]))
"""


def test_html_pipeline_in_two_sessions():
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip().splitlines()[-1] == "40"
    assert "Failed to update accumulator" not in proc.stderr, proc.stderr[-2000:]
