"""Session defaults that depend on the host."""

from __future__ import annotations

from cwds_jobs_spark.session import default_driver_mem


def test_driver_mem_is_half_of_host_memory_capped(tmp_path):
    def mem(total_kb: int) -> str:
        p = tmp_path / "meminfo"
        p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:  1 kB\n")
        return default_driver_mem(str(p))

    assert mem(15_728_640) == "7680m"  # 15 GiB host
    assert mem(512 * 1024 * 1024) == "49152m"  # capped at 48g
    assert default_driver_mem(str(tmp_path / "missing")) == "49152m"


def test_sessions_turn_call_site_capture_off(spark):
    """Call-site capture costs ~10 JVM round trips per DataFrame call;
    ``get_spark`` turns it off in the builder, before PySpark caches
    the flag for the process."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
