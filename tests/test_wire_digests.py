"""Frozen wire bytes: sha256 of ``to_bytes()`` for fixed inputs, per tier.

The compiled-reference parity tests skip wherever the reference library
is absent, so these digests are what pins filter payload bytes: any
change to hashing, sizing, the seed chain, duplicate handling, peel or
assignment that moves a byte fails here.  The native and numpy tiers
hold separate digests because their peel orders differ by design (the
queue peel vs the min-cell wavefront); each tier's bytes are
deterministic.  The numpy tier runs in one ``FASTFILTER_NO_NATIVE=1``
subprocess, as ``test_native._numpy_build`` does.

Inputs (FIXTURES.md): ``keyset_contiguous`` (``arange(1000)``),
``keyset_with_dups`` (``arange(1000)`` plus ``arange(10)``) and 20,000
``splitmix64_stream`` keys with their first 2,000 repeated; plus one
native fuse8 build over 2^20 + 5,000 keys with duplicates, large enough
for the emit-cells peel (``native._Kernel.EMIT_MIN_N``).
"""

import hashlib
import json
import os
import subprocess
import sys

import numpy as np
import pytest

from fastfilter_spark.functions import kernels as K
from fastfilter_spark.functions.native import get_kernel

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

KINDS = [("xor8", 3), ("xor16", 3), ("fuse8", 3), ("fuse16", 3),
         ("fuse32", 3), ("fuse8", 4), ("fuse16", 4)]


def _inputs() -> dict[str, np.ndarray]:
    stream = K.splitmix64_stream(42, 20_000)
    return {
        "contiguous": np.arange(1000, dtype=np.uint64),
        "with_dups": np.concatenate([np.arange(1000, dtype=np.uint64),
                                     np.arange(10, dtype=np.uint64)]),
        "splitmix_dups": np.concatenate([stream, stream[:2000]]),
    }


def _digests() -> dict[str, str]:
    """Digest of every (kind, arity, input) build in this process's tier."""
    from fastfilter_spark.operators.local import build_filter
    out = {}
    for name, keys in _inputs().items():
        for kind, arity in KINDS:
            f = build_filter(keys, kind, arity=arity)
            out[f"{kind}/a{arity}/{name}"] = \
                hashlib.sha256(f.to_bytes()).hexdigest()
    return out


def _emit_digest() -> str:
    from fastfilter_spark.operators.local import build_filter
    stream = K.splitmix64_stream(7, 1 << 20)
    keys = np.concatenate([stream, stream[:5000]])
    return hashlib.sha256(build_filter(keys, "fuse8").to_bytes()).hexdigest()


NATIVE = {
    "xor8/a3/contiguous":
        "7b19d554030583ccb0db0b066ec3b451919d3e02a7c48b626e1a0c3f59b74266",
    "xor16/a3/contiguous":
        "538c9fcda212477ccc4fd2d19d04587ca7c7f11195a2c22b9b60a9280dbaa7e0",
    "fuse8/a3/contiguous":
        "fd588cf00780b9a2396269950802b062eb401d616dab2c51a85a39664c9b1325",
    "fuse16/a3/contiguous":
        "28569aed9ed3e3bec92f6900a74678133735c50c83bd67c107d218ee34dfad48",
    "fuse32/a3/contiguous":
        "419993213a3f12520739d0e7064aab4bf47a3a47954f633b070a41fc977583e6",
    "fuse8/a4/contiguous":
        "c38be52c0f2d98f839905b4b14eedb32a4785b3add37500d471a57e9f126f446",
    "fuse16/a4/contiguous":
        "dbfdd896d609c79695dc5eaa0fabf9526152705b127ddf10c21d4bea0f59d7a3",
    "xor8/a3/with_dups":
        "7225d384c97ee78fb4f17bfa5982e530cb63deb19f94987f4faa55b58e5811d7",
    "xor16/a3/with_dups":
        "eb6297293f476212c3de6aa4a99229c8d9c65d718d0b3f54b244b7d5775fb8f7",
    "fuse8/a3/with_dups":
        "1da70d7f0e1d171f4ddfa45c83ea226c5a5cb968f1bcac0dee52fd030c4ae83b",
    "fuse16/a3/with_dups":
        "d87a68bab8f4676e81a52bb4c82f64e9fdd0a5ea27def0f624fb208fd66f9af5",
    "fuse32/a3/with_dups":
        "5960ab33194780411f79df95047fff89d7527b6ea03c3a846b4d096327cf9c6b",
    "fuse8/a4/with_dups":
        "ce280edae4a17318197f49ae7376178133b3a3f776a3d34921fd56714f2bffee",
    "fuse16/a4/with_dups":
        "3a8b153c8213b2e1c3b56ddb1cdbd14b0aca060ea9173b6c320c2bd61f3b71c7",
    "xor8/a3/splitmix_dups":
        "6b7fdb5fb2b12ca67009070b51ab9786243d6be4de5b8af70784235b6257a9a0",
    "xor16/a3/splitmix_dups":
        "b7147b973f42678ceba746e5cd541ee22a3a298f7a9db98cb371ea16425ec9ba",
    "fuse8/a3/splitmix_dups":
        "340eb5c23ba49da2cf8f73e8b87fdcf0da6128b44270be5f263a165eb8ad5b5b",
    "fuse16/a3/splitmix_dups":
        "cf0d792f4b6366f53c6a824b3d367ab25fcf776388c2392b5d33830418e0f018",
    "fuse32/a3/splitmix_dups":
        "ead35098ae57c3b3071586e2995531d18a61eaa7fbde7c6e60060e0711711a81",
    "fuse8/a4/splitmix_dups":
        "a0e20a4fc9bc45b7ddfb39557b309e1f77c0e01d8815ecc062f13f2bff093b80",
    "fuse16/a4/splitmix_dups":
        "466e4bc894a33836c3d4d3bf5ccb8d00690ffff2cd4a5df4a30766a1f418bf36",
}

NUMPY = {
    "xor8/a3/contiguous":
        "e784c3b0b1d55a0eefb6f14c86ba47912baa2baf7e52c11e8195b23f4b913fc9",
    "xor16/a3/contiguous":
        "4afad288f3c128da4b538dc4e3de0fa3ffa44ef12ee90f087cc2a62a6807b40e",
    "fuse8/a3/contiguous":
        "a5d733ee497d8dc036398c390c45b49a26eed248c1cd66b715c54218c4ebe0e7",
    "fuse16/a3/contiguous":
        "a8e9ee984056fa61cb782898ccad738e455473ae2979d7003d9882d9d333c546",
    "fuse32/a3/contiguous":
        "c6542470051dbf97a18e4a03efa0be4358078f2d9c78a43496c14bf6c969348e",
    "fuse8/a4/contiguous":
        "dcd0759fa97b9a6669a058d761cbd49f00cfd07461b8c662923ef4a5c8339cee",
    "fuse16/a4/contiguous":
        "41e32a748f7cc7d7e9179a5492524d635c49d25e4cb78489c9bb0ecdaf9116ed",
    "xor8/a3/with_dups":
        "04b72ade55286cdcc9086bc2cf095eb848ada2e2790da2524a7aab7ad281a0e3",
    "xor16/a3/with_dups":
        "c00305ff768a10bb5805b2ee3c0430e2c3ed13dd7b4e6e88e660e9bd2e50cd8b",
    "fuse8/a3/with_dups":
        "bf36e08001fb1f4b2aa5e0459444b89d7d4c39c0fd9be1919917127e5dde301c",
    "fuse16/a3/with_dups":
        "d4265733c7a7ab79681ca3484ac873709cd2d8bbec8cf2bde329dec1e7347c86",
    "fuse32/a3/with_dups":
        "5420ddeac9bf0ca5cd7e6a8607f003519ef5947fd14fa1e350fc0f9140d15f3c",
    "fuse8/a4/with_dups":
        "1db9ddfb7cde7a06c39daf5481324b42d5ce074ef74213e053fa077f77131126",
    "fuse16/a4/with_dups":
        "d74eb9e1244c121068abd3d850127913159d82fd380b36fce6b8a7b8eb3e351e",
    "xor8/a3/splitmix_dups":
        "01217740371844a2da3439a4225790d8376ac00b65255f387d7a8e2464538584",
    "xor16/a3/splitmix_dups":
        "46072f14207a899f57a9a02b38ab97eb7948d9f20ae7df174018b220eb7ccc4e",
    "fuse8/a3/splitmix_dups":
        "f91f6a73bde99f0f5e281c50acd258be944186b103aad4488a110d07f0622db2",
    "fuse16/a3/splitmix_dups":
        "85fd1f02a44e51df86e51f8b0b93212dcc7a7a3bcc8e9de00a1c2857cefa2c39",
    "fuse32/a3/splitmix_dups":
        "f1c95cf45f00fa92ff572db77eb8aadd7756ed99836ec77ea136028f24801377",
    "fuse8/a4/splitmix_dups":
        "59dc97144ab63d763d3d19373e97f4db9336cfe1a546259146ff7d825408c735",
    "fuse16/a4/splitmix_dups":
        "4d16b7cabae2c8ff4b01ed32693f59c886a65f0c639bc6a8d83a53fa22d9ece8",
}

NATIVE_EMIT = (
    "4243e9868dff7b129988e21f2e46c5def534df18ec19803126396cfecb895b84")


@pytest.mark.skipif(get_kernel() is None, reason="no C compiler available")
def test_native_wire_digests():
    assert _digests() == NATIVE


@pytest.mark.skipif(get_kernel() is None, reason="no C compiler available")
def test_native_emit_path_wire_digest():
    assert get_kernel().EMIT_MIN_N <= (1 << 20)
    assert _emit_digest() == NATIVE_EMIT


def test_numpy_wire_digests():
    code = (
        "import json, sys\n"
        f"sys.path.insert(0, {_REPO!r})\n"
        "from tests.test_wire_digests import _digests\n"
        "print(json.dumps(_digests()))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        env={"FASTFILTER_NO_NATIVE": "1", "PATH": "/usr/bin:/bin"},
        check=True)
    assert json.loads(out.stdout) == NUMPY
