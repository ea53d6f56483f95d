"""Registry contract: every query is declared once with a callable and a
non-empty oracle, bench.py's headline set is pinned to its recorded
order, and the entry module exposes the three required functions."""

import hashlib


def test_queries_and_oracles_align():
    from pdf_extract_spark.queries import ORACLES, QUERIES, REGISTRY

    assert len({q.name for q in REGISTRY}) == len(REGISTRY) == 146
    assert all(callable(f) for f in QUERIES.values())
    assert all(isinstance(s, str) and s.strip() for s in ORACLES.values())


def test_headline_order_pinned():
    # bench.py times HEADLINE in this order; reordering or resizing it
    # breaks comparability with every recorded bench total
    from pdf_extract_spark.queries import HEADLINE

    assert len(HEADLINE) == 120
    assert hashlib.sha256("\n".join(HEADLINE).encode()).hexdigest() == (
        "1393f3ac45532cfe08a110f8dea89656bb0044b433c21bf69f7e39b8babeaa1a"
    )


def test_entry_module_surface():
    import sys
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(q) == set(o) and len(q) >= 88
    assert callable(e.entry)
