"""Driver-contract invariants (no JVM): every oracle has a query, the
rows-only set stays exactly the irreducible one, and the oracle SQL uses
only engine-portable primitives (no Spark-only function names)."""

import __spark_entry__ as entry

# the ONLY queries allowed to lack a DuckDB oracle: the OCR-kernel trio
# (not SQL-expressible; gated instead by per-turn equality vs the serial
# kernel in tests/test_spark_job.py).  The ANN suite is value-gated
# end-to-end: seeded LSH candidates + exact cosine + deterministic
# tie-break, and the recall row built on them.
IRREDUCIBLE_ROWS_ONLY = {"extract_turns", "extract_eval", "extract_lineage"}


def test_every_oracle_has_a_query():
    qs, osql = entry.queries(), entry.oracle_sql()
    assert set(osql) <= set(qs)


def test_rows_only_set_is_exactly_the_irreducible_one():
    """Adding a query without an oracle (or dropping an oracle) must be a
    deliberate decision: this pins the uncovered set."""
    qs, osql = entry.queries(), entry.oracle_sql()
    assert set(qs) - set(osql) == IRREDUCIBLE_ROWS_ONLY


def test_oracle_sql_is_duckdb_parseable():
    """Every oracle statement at least PARSES in DuckDB (catches typos and
    Spark-only syntax without needing the data files)."""
    import duckdb

    con = duckdb.connect()
    for name, sql in entry.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except duckdb.ParserException as exc:  # pragma: no cover
            raise AssertionError(f"{name}: oracle SQL does not parse: {exc}") from exc
        except duckdb.Error:
            # binder errors are fine here (views/files absent); parse errors
            # surface as ParserException above
            pass
