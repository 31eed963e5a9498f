"""Session defaults derived from the host."""

from jmdfane_spark import session


def _mb(mem: str) -> int:
    if mem.isdigit():  # Spark reads a bare number as MiB
        return int(mem)
    units = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    return int(float(mem[:-1]) * units[mem[-1].lower()])


def test_driver_memory_fits_physical_ram(spark, monkeypatch):
    """The default heap must fit the host: a 48g default on a 15 GB host
    had the kernel OOM-kill the driver JVM mid-suite."""
    physical_mb = session.physical_memory_kb() // 1024
    live = spark.sparkContext.getConf().get("spark.driver.memory")
    assert _mb(live) < physical_mb, (live, physical_mb)

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    mem = session.default_driver_memory()
    assert _mb(mem) == min(physical_mb // 2, session.DRIVER_MEM_CAP_MB), mem
    assert _mb(mem) < physical_mb

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.default_driver_memory() == "3g"
