"""Registry output-contract tests.

The driver's correctness canonicalizer sorts and hashes every output
cell; Python ``list``/``dict`` cells are unhashable, so a query that
emits a bare array/struct/map column fails the graded gate even when
its values are correct (round-1 lesson: fn_complex_types et al.).
Enforce the registry convention (queries/registry.py docstring): all
output columns are atomic — complex types must be serialized with
array_join / to_json before they leave the query.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import big_data_project_implementation_spark
from big_data_project_implementation_spark.queries import REGISTRY
from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_DIR = os.path.dirname(os.path.abspath(big_data_project_implementation_spark.__file__))

COMPLEX = ("ArrayType", "MapType", "StructType")

# streaming queries execute on .fn() (memory-sink round trip) — schema
# checked in their own tests; skip here to keep this test instant.
BATCH = sorted(n for n in REGISTRY if not n.startswith("stream_"))


@pytest.mark.parametrize("name", BATCH)
def test_output_columns_are_atomic(spark, name):
    schema = REGISTRY[name].fn(spark, SF_DIR).schema
    offenders = [
        f.name for f in schema.fields if type(f.dataType).__name__ in COMPLEX
    ]
    assert not offenders, (
        f"{name} emits driver-unhashable complex-typed columns {offenders}; "
        "serialize with array_join/to_json (registry convention)"
    )


def test_tests_import_the_package_of_their_own_checkout():
    """The suite tests the checkout it sits in, wherever that is."""
    assert os.path.dirname(PKG_DIR) == ROOT


def test_registry_is_registration_order():
    """REGISTRY iterates in the order the @query decorators ran: the
    query submodules in sorted order, each in source order."""
    modules = sorted({s.fn.__module__ for s in REGISTRY.values()})

    def decorated_at(name):
        fn = REGISTRY[name].fn
        return (modules.index(fn.__module__), fn.__code__.co_firstlineno)

    names = list(REGISTRY)
    assert names == sorted(names, key=decorated_at)


_AUDIT_IMPORT = """
import json, sys
sys.path.insert(0, sys.argv[1])
seen = []

def hook(event, args):
    if event == "open" or event.startswith("glob.glob"):
        seen.append((event, args[0]))

sys.addaudithook(hook)
import big_data_project_implementation_spark.queries  # noqa: E402,F401
print(json.dumps([(e, p) for e, p in seen if isinstance(p, str)]))
"""


def test_registry_import_reads_no_checkout_files():
    """Importing the query registry opens or globs nothing in the
    checkout outside the package itself: its contents cannot depend on
    which other files sit in the checkout. The import system's own
    directory listings raise os.listdir, which is not collected."""
    out = subprocess.run(
        [sys.executable, "-c", _AUDIT_IMPORT, ROOT],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
        timeout=300,
    ).stdout
    stray = [
        (event, path)
        for event, path in json.loads(out.strip().splitlines()[-1])
        if os.path.abspath(path).startswith(ROOT + os.sep)
        and not os.path.abspath(path).startswith(PKG_DIR + os.sep)
    ]
    assert stray == []
