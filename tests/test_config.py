"""DedupConfig's own contract: every field is read by the package, and
contradictory settings are refused at construction."""

from __future__ import annotations

import dataclasses
from pathlib import Path

import pytest

import deduplicate_spark
from deduplicate_spark.config import DedupConfig


def test_every_config_field_is_read():
    """A field no module reads is a knob that changes nothing (and still
    changes the checkpoint key): each must appear as ``.<field>`` in some
    package module other than config.py."""
    pkg = Path(deduplicate_spark.__file__).parent
    sources = "\n".join(
        p.read_text() for p in pkg.rglob("*.py") if p.name != "config.py"
    )
    unread = [f.name for f in dataclasses.fields(DedupConfig) if f".{f.name}" not in sources]
    assert not unread, f"DedupConfig fields no module reads: {unread}"


def test_strict_mode_refuses_substring_pass():
    """complete_hash clusters exact-content-equal docs only; the substring
    pass would cluster docs that merely share a long substring."""
    with pytest.raises(ValueError, match="complete_hash.*enable_substring_pass"):
        DedupConfig(complete_hash=True, enable_substring_pass=True)
    DedupConfig(complete_hash=True)
    DedupConfig(enable_substring_pass=True)


@pytest.mark.parametrize("salt", [0, -1])
def test_band_salt_buckets_below_one_is_refused(salt):
    """The salt is a modulus (pmod(xxhash64(id), salt)): 0 would fail in an
    executor with a remainder-by-zero error, so the config refuses it."""
    with pytest.raises(ValueError, match="band_salt_buckets"):
        DedupConfig(band_salt_buckets=salt)
    DedupConfig(band_salt_buckets=1)
