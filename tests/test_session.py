"""Session defaults that depend on the host, as pure functions (no JVM)."""

from takco_spark.session import fit_driver_memory


def test_fit_driver_memory_half_of_ram_capped_at_24g():
    gib = 1024 * 1024  # kB
    assert fit_driver_memory(16 * gib) == "8192m"
    assert fit_driver_memory(15_700_000) == "7666m"
    assert fit_driver_memory(48 * gib) == "24576m"
    assert fit_driver_memory(256 * gib) == "24576m"
    assert fit_driver_memory(None) == "24g"
