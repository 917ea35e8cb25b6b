"""The registered query surface is whole.

``capital.queries`` imports each query module inside a try/except so
one broken pack cannot take the driver surface down; the failure is
only printed. These tests make it loud: every module must import, and
the registry must hold the full count, so the oracle-parity
parametrization cannot silently check fewer queries.
"""

from __future__ import annotations

from importlib import import_module

import pytest

from capital.queries import _MODULES, all_oracles, all_queries

#: Registered queries / oracle-paired queries. Update deliberately
#: when a query is added or removed.
N_QUERIES = 215
N_ORACLES = 212


@pytest.mark.parametrize("module", _MODULES)
def test_query_module_imports(module):
    # A module whose import raised is not left in sys.modules, so this
    # re-runs the failing import and surfaces its exception.
    import_module(module)


def test_registry_holds_every_query():
    assert len(all_queries()) == N_QUERIES
    assert len(all_oracles()) == N_ORACLES
