"""The committed digest manifest (``DIGESTS_SF001.json``, written by
``scripts/digest_sweep.py``) still describes the registry: a
deterministic 1-in-50 sample of the sorted query names is re-run at
sf0.01 and must reproduce its row count, columns and row digest. The
full comparison, every query and every plan hash, is
``python scripts/digest_sweep.py --check``."""

from __future__ import annotations

import json

import pytest

from eventstreamml_spark import queries as q
from scripts import digest_sweep
from tests.conftest import SF_ORACLE

with open(digest_sweep.MANIFEST) as _f:
    MANIFEST = json.load(_f)["results"]

SAMPLE = sorted(q.queries())[::50]


@pytest.mark.parametrize("name", SAMPLE)
def test_query_reproduces_its_manifest_digest(spark, name):
    want = MANIFEST[name]
    got = digest_sweep.rows_digest(q.queries()[name](spark, SF_ORACLE))
    assert got == (want["rows"], want["columns"], want["digest_p8"])


def test_plan_normalization_strips_build_numbering():
    """Two builds of one query differ in expression ids and in the
    numbering of common subexpressions, generated aliases and lambda
    variables; none of that survives normalization."""
    a = (
        "Project [_common_expr_0#281 AS k#12L, _gen_alias_5#7, "
        "lambdafunction(lambda x_1#91._y, lambda x_1#91, false)]"
    )
    b = (
        "Project [_common_expr_3#9 AS k#40L, _gen_alias_11#8, "
        "lambdafunction(lambda x_4#2._y, lambda x_4#2, false)]"
    )
    assert digest_sweep.normalize_plan(a) == digest_sweep.normalize_plan(b)
    assert digest_sweep.normalize_plan(a) != digest_sweep.normalize_plan(
        a.replace("AS k#", "AS j#")
    )
