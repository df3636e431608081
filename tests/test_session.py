"""get_spark turns off PySpark's per-call call-site capture.

With ``spark.python.sql.dataFrameDebugging.enabled`` on (PySpark's default),
every classic Column method and ``F.col`` runs ``getActiveSession``, a conf
read, ``PySparkCurrentOrigin.set``/``clear`` and a Python stack walk: about
5–7 py4j round trips per Column node on top of the node itself.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.errors import ArithmeticException, PySparkException
from pyspark.errors import utils as error_utils
from pyspark.sql import functions as F

ROOT = Path(__file__).resolve().parent.parent
FLAG = "spark.python.sql.dataFrameDebugging.enabled"


def test_call_site_capture_is_off(spark, monkeypatch, py4j_commands):
    assert spark.conf.get(FLAG) == "false"
    # PySpark caches the flag on its first read (False when no session was
    # active then), so read it afresh from the test session
    monkeypatch.setattr(error_utils, "_enable_debugging_cache", None)
    assert error_utils.is_debugging_enabled() is False
    # a column reference and a plus: 24 commands with capture on
    assert py4j_commands(lambda: F.col("a") + 1) <= 5


def test_errors_keep_their_error_class(spark):
    with pytest.raises(ArithmeticException) as err:
        spark.range(1).select(F.lit(1) / F.col("id")).collect()
    assert err.value.getCondition() == "DIVIDE_BY_ZERO"
    assert "DIVIDE_BY_ZERO" in str(err.value)


def test_flag_cannot_be_set_on_a_running_session(spark):
    with pytest.raises(PySparkException) as err:
        spark.conf.set(FLAG, "true")
    assert err.value.getCondition() == "CANNOT_MODIFY_STATIC_CONFIG"
    assert spark.conf.get(FLAG) == "false"


_CAPTURE_ON = """
import gc
import json
import sys

sys.path.insert(0, sys.argv[1])
from py4j.clientserver import ClientServerConnection
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ml_data_pipeline_spark.session import get_spark

(
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "512m")
    .config("spark.python.sql.dataFrameDebugging.enabled", "true")
    .getOrCreate()
)
spark = get_spark("capture-on", master="local[1]", shuffle_partitions=1)
sent = [0]
send = ClientServerConnection.send_command


def counting_send(self, command):
    sent[0] += 1
    return send(self, command)


ClientServerConnection.send_command = counting_send
F.col("a") + 1
gc.disable()
sent[0] = 0
F.col("a") + 1
print(json.dumps({"enabled": is_debugging_enabled(), "commands": sent[0]}))
"""


def test_capture_comes_back_from_a_session_started_with_the_flag(tmp_path):
    """The documented way back: a session started with the flag on before
    get_spark runs; get_spark returns it, static settings unchanged."""
    script = tmp_path / "capture_on.py"
    script.write_text(_CAPTURE_ON)
    out = subprocess.run(
        [sys.executable, str(script), str(ROOT)],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.splitlines()[-1])
    assert got["enabled"] is True
    assert got["commands"] > 5
