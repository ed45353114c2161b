"""The distilled reference stump tables are pinned by content hash.

``models/stumps_ref_nm{1,2}.json`` are frozen from the reference XML
ensembles (``sources/distill.py``).  The distiller parity tests in
test_distill.py need that XML and skip without it, and
``q_stump_scoring_ref`` reads the same file as its oracle, so without this
pin an edited row would pass every test.  Re-freeze deliberately: re-run
the distiller against the reference, confirm test_distill.py passes, then
update the hash here.
"""

from __future__ import annotations

import hashlib
import os

import pytest

from ocr_hardsubx_spark.sources.distill import MODELS_DIR

PINNED_SHA256 = {
    "stumps_ref_nm1.json":
        "ccd3d5dac4e33a1dc137dc1c2e0b051dbe5ecae03b0c64ec8e22c9f435df19f7",
    "stumps_ref_nm2.json":
        "361e0433f2674b6b612c7e056675dc97296db4f798c4fd7e41fe72d00a58e412",
}


@pytest.mark.parametrize("name", sorted(PINNED_SHA256))
def test_ref_stump_table_hash(name):
    with open(os.path.join(MODELS_DIR, name), "rb") as f:
        assert hashlib.sha256(f.read()).hexdigest() == PINNED_SHA256[name]
