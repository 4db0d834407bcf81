"""Query builders that are not in the registry.

Each module here carries a ``STAGED`` dict of
``name -> (builder, oracle_sql, description, tags)``. Nothing in the
engine, ``__spark_entry__``, ``bench.py`` or ``perfbench`` imports this
package, and importing it registers nothing. Seven modules are left:
``outer_join_stream``, ``datacard``, ``rendezvous``, ``langeval``,
``bursts``, ``embedhealth`` and ``consample``. They stay only because
their oracle and plan tests (``tests/test_staged_r19b``, ``r20c``,
``r20d``, ``r20e``, ``r20f``) still cover them; each one is to be registered with ``@query`` in ``queries/`` or
deleted.
"""
