"""The declared-query registry: exposed names and stable-name lookup."""

from __future__ import annotations

import json
import os

from connected_data_lake_spark.plans import _REGISTRY, ROTATED, all_specs, spec_of

MEMBERSHIP = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "membership.json"
)


def test_exposed_names_are_pinned():
    with open(MEMBERSHIP) as fh:
        members = json.load(fh)["members"]
    pinned = sorted(set().union(*map(set, members.values())))
    specs = all_specs()
    assert len(pinned) == 231
    assert sorted(specs) == pinned
    assert all(spec.name == name for name, spec in specs.items())


def test_registry_keys_are_stable_names():
    all_specs()  # imports every plan module, filling the registry
    assert not [n for n in _REGISTRY if n.startswith(("z_", "zz_"))]
    assert ROTATED <= set(_REGISTRY)


def test_spec_of_resolves_stable_and_rotated_names():
    for name, spec in all_specs().items():
        assert spec_of(name.removeprefix("z_")).spark is spec.spark
        assert spec_of(name).spark is spec.spark
    assert spec_of("knn_sketch_probe").name == "z_knn_sketch_probe"
