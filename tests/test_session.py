"""Session defaults that depend on the host."""

from go_spatial_spark.session import _parse_bytes, default_driver_mem


def test_default_driver_mem_is_half_of_host_capped():
    assert default_driver_mem(16 << 30) == "8192m"
    assert default_driver_mem(3 << 30) == "1536m"
    assert default_driver_mem(512 << 30) == "49152m"  # the 48g cap
    here = _parse_bytes(default_driver_mem())
    assert 0 < here <= 48 << 30
