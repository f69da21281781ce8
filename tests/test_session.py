"""Session defaults that must hold without a JVM."""

from pseudopeople_spark import session


def test_default_driver_memory_is_40_percent_capped_at_24g():
    gib_kb = 1024 * 1024
    assert session.default_driver_memory(15 * gib_kb) == "6144m"
    assert session.default_driver_memory(60 * gib_kb) == "24g"
    assert session.default_driver_memory(512 * gib_kb) == "24g"
    assert session.default_driver_memory(gib_kb) == "1024m"
    assert session.default_driver_memory(None) == "24g"


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.driver_memory() == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    assert session.driver_memory() == session.default_driver_memory(session._mem_total_kb())
