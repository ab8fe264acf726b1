"""No UDF state survives a SparkSession restart in the same process.

A pandas UDF carries the accumulator of the SparkContext it was first
evaluated under. A module-level UDF object outlives ``spark.stop()``, so a
second session's tasks try to update the dead context's accumulator and
every task logs ``Failed to update accumulator``. Each Arrow UDF is built
per call. The restart runs in a child process so the suite's session is
untouched.
"""

import os
import pathlib
import subprocess
import sys
import textwrap

REPO = pathlib.Path(__file__).resolve().parents[1]

CHILD = textwrap.dedent(
    """
    from pyspark.sql import functions as F

    from corpusama_spark.functions import langid as L
    from corpusama_spark.functions import textrules as T
    from corpusama_spark.functions.compressq import compress_ratio
    from corpusama_spark.functions.imageops import image_features
    from corpusama_spark.functions.images import verify_image
    from corpusama_spark.functions.normalize import (
        html_to_text_col,
        normalize_caption,
    )
    from corpusama_spark.functions.perplexity import perplexity
    from corpusama_spark.session import get_spark
    from corpusama_spark.sources.synth import captions_df

    def run():
        spark = get_spark(
            cores=1,
            shuffle_partitions=2,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        caps = captions_df(spark, 40, partitions=2)
        prepped = caps.select(
            "image_id",
            verify_image().alias("iv"),
            image_features().alias("feat"),
            T.prep_caption("caption").alias("p"),
            normalize_caption("caption").alias("nc"),
            html_to_text_col("caption").alias("ht"),
            compress_ratio(F.col("caption")).alias("cz"),
        ).select(
            "image_id",
            "iv",
            "feat",
            "p",
            "nc",
            "ht",
            "cz",
            perplexity("p.caption_norm").alias("ppl"),
        )
        lines = L.explode_lines(prepped.select("image_id", "p.lines"))
        lid = L.aggregate_lid(L.label_lines(lines))
        rows = sorted(
            tuple(r)
            for r in prepped.join(lid, "image_id", "left")
            .select(
                "image_id", "iv", "feat", "p.caption_norm", "nc", "ht",
                "cz", "ppl", "l1",
            )
            .collect()
        )
        spark.stop()
        return rows

    first = run()
    second = run()
    assert len(first) == 40
    print("EQUAL" if first == second else "DIFFERENT")
    """
)


def test_udfs_survive_session_restart(tmp_path):
    env = dict(os.environ)
    env["PYTHONPATH"] = str(REPO) + os.pathsep + env.get("PYTHONPATH", "")
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env.pop("SPARK_GRAFT_MASTER", None)
    proc = subprocess.run(
        [sys.executable, "-c", CHILD],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "Failed to update accumulator" not in proc.stderr, proc.stderr[-4000:]
    assert proc.stdout.strip().splitlines()[-1] == "EQUAL", proc.stdout
