"""Query builders that are not in the registry.

Each module here carries a ``STAGED`` dict of
``name -> (builder, oracle_sql, description, tags)``. Nothing in the
engine, ``__spark_entry__``, ``bench.py`` or ``perfbench`` imports this
package, and importing it registers nothing. The modules stay only
because their value-oracle, brute-force and plan tests
(``tests/test_staged_r17*`` … ``r20*``) still cover them; each one is
to be registered with ``@query`` in ``queries/`` or deleted.
"""
