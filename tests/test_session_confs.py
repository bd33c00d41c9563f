"""Confs ``session.get_spark`` sets at build time that change what every
plan construction costs, checked on the test session."""

from __future__ import annotations

import py4j.clientserver as _cs
import pyspark.errors.utils as _errors_utils
from pyspark.sql import functions as F


def test_column_building_skips_call_site_capture(spark, monkeypatch):
    """``spark.python.sql.dataFrameDebugging.enabled=false``: building a
    Column sends no ``PySparkCurrentOrigin`` set/clear round trips.  PySpark
    caches the conf per process on first use; resetting the cache makes it
    read the session's value here."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    monkeypatch.setattr(_errors_utils, "_enable_debugging_cache", None)
    sent: list[str] = []
    orig = _cs.ClientServerConnection.send_command

    def send_command(conn, command):
        sent.append(command)
        return orig(conn, command)

    monkeypatch.setattr(_cs.ClientServerConnection, "send_command", send_command)
    (F.col("a") + F.lit(1)).alias("b")
    monkeypatch.undo()
    assert sent, "no py4j command was counted"
    assert not [c for c in sent if "PySparkCurrentOrigin" in c]
