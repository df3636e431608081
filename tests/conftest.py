from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ml_data_pipeline_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture
def py4j_commands(monkeypatch):
    """``count(build)`` -> the py4j commands this thread sends while
    ``build()`` runs, with ``gc`` disabled so no JVM-object release is
    counted. ``build`` runs once uncounted first, so one-off class and
    method lookups are not counted either. Commands from other threads
    (helpers left by earlier jobs also talk to the JVM) are not counted."""
    import gc
    import threading

    from py4j.clientserver import ClientServerConnection

    owner = threading.get_ident()
    sent = [0]
    send = ClientServerConnection.send_command

    def counting_send(self, command):
        if threading.get_ident() == owner:
            sent[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting_send)

    def count(build) -> int:
        build()
        gc.collect()
        gc.disable()
        start = sent[0]
        try:
            build()
        finally:
            gc.enable()
        return sent[0] - start

    return count
