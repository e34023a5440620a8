"""The session that ``get_spark`` builds: PySpark's DataFrame debugging
hook is off, so building a Column makes no call-site round trips."""

import threading

import pyspark.errors.utils as errors_utils
from py4j.java_gateway import GatewayClient
from pyspark.sql import functions as F


def _chain():
    a = (F.col("a") + 1).alias("x").cast("string")
    b = (F.col("b") * 2).cast("bigint").alias("y")
    return a, b


def _commands(monkeypatch, fn) -> list[str]:
    """The py4j commands that ``fn()`` sends from this thread."""
    me = threading.get_ident()
    sent: list[str] = []
    send = GatewayClient.send_command

    def spy(self, command, *args, **kwargs):
        if threading.get_ident() == me:
            sent.append(command)
        return send(self, command, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(GatewayClient, "send_command", spy)
        fn()
    return sent


def test_session_turns_dataframe_debugging_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_column_chain_makes_no_call_site_round_trips(spark, monkeypatch):
    # PySpark caches the setting per process at the first Column call;
    # forcing the cache on reproduces PySpark's default (hook on).
    monkeypatch.setattr(errors_utils, "_enable_debugging_cache", True)
    _chain()
    hooked = _commands(monkeypatch, _chain)
    assert any("PySparkCurrentOrigin" in c for c in hooked)

    # None: read again from the active session, as on a fresh process.
    monkeypatch.setattr(errors_utils, "_enable_debugging_cache", None)
    _chain()
    sent = _commands(monkeypatch, _chain)
    assert not [c for c in sent if "PySparkCurrentOrigin" in c]
    assert 2 * len(sent) <= len(hooked), (len(sent), len(hooked))
