"""Host sizing: scan split size and driver memory."""

import harness


def test_split_bytes_targets_four_splits_per_core():
    assert harness.split_bytes(4, 192 << 20) == 12 << 20
    assert harness.split_bytes(64, 1 << 20) == 4 << 20
    assert harness.split_bytes(1, 1 << 40) == 128 << 20


def test_driver_memory_is_a_bounded_share_of_the_host():
    assert harness.Host(4, 16 << 30).driver_mem_mb == 1536
    assert harness.Host(4, 10 << 30).driver_mem_mb == 1280
    assert harness.Host(1, 2 << 30).driver_mem_mb == 1024
