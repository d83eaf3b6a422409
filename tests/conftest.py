from __future__ import annotations

import logging

import pytest

from quarkus_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    logging.getLogger("py4j").setLevel(logging.WARNING)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def round_trips(monkeypatch):
    """`round_trips(fn)` calls fn and returns the py4j round trips it made
    (calls to ClientServerConnection.send_command from this thread). Not
    counted: other threads' calls, and the "release this JVM handle"
    messages py4j sends when Python frees a handle, which depend on what
    earlier code left for the garbage collector (the cyclic GC is also off
    while counting)."""
    import gc
    import threading

    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    calls = [0]
    send = ClientServerConnection.send_command
    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    me = threading.get_ident()

    def counting(self, command, *args, **kwargs):
        if threading.get_ident() == me and not command.startswith(release):
            calls[0] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)

    def count(fn) -> int:
        gc.collect()
        gc.disable()
        try:
            calls[0] = 0
            fn()
            return calls[0]
        finally:
            gc.enable()

    return count


@pytest.fixture
def lsh_planes(monkeypatch):
    """`lsh_planes(n_rows, p)` sets `similarity.TARGET_BUCKET` so that
    `_auto_planes` sizes exactly p hyperplanes for an n_rows input:
    ceil(log2(n_rows / (n_rows / 2**(p - 0.5)))) = p."""
    from quarkus_etl_spark.operators import similarity

    def set_planes(n_rows: int, p: int) -> None:
        monkeypatch.setattr(similarity, "TARGET_BUCKET", n_rows / 2 ** (p - 0.5))

    return set_planes
