"""The front-door gates that stage parquet scratch leave nothing in the
temp dir: a gate writes its inputs to one fixed directory under the
warehouse dir, replaced on each run, and the mutation and schema
rewrites remove their staging directories after the file swap."""

from __future__ import annotations

import os
import tempfile

import pytest

from clickhouse_vs_dbt_spark import dialect

# the mkdtemp prefixes these gates and their rewrites used to leave
_PREFIXES = (
    "dialect_file_", "ch_lifecycle_", "ch_schema_evo_",
    "ch_mutate_", "ch_schema_", "ch_mutate_part_",
)


def _leftovers() -> set[str]:
    return {
        e for e in os.listdir(tempfile.gettempdir())
        if e.startswith(_PREFIXES)
    }


@pytest.mark.parametrize("gate", [
    "dialect_file_read", "ch_script_lifecycle", "ch_script_schema_evolution",
])
def test_gate_leaves_no_temp_dirs_and_reruns_unchanged(spark, sf_dir, gate):
    before = _leftovers()
    runs = [
        sorted(dialect.QUERIES[gate](spark, sf_dir).collect())
        for _ in range(2)
    ]
    assert _leftovers() <= before
    assert runs[0] and runs[0] == runs[1]
