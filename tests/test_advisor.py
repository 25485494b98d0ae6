"""Index advisor — property_index.rs:900-1102 parity (improvement
estimation, skips, priority ranking, DDL) through the distributed
query-log aggregation ``suggest_from_log``. The gated ``index_advisor``
entry checks the same pipeline against DuckDB."""

from velesdb_spark.plans import advisor as A

_SCHEMA = ("labels array<string>, properties array<string>, "
           "predicates array<string>, ms bigint")


def _suggest(spark, rows, existing=()):
    """(ddl, query_count, avg_time_ms, improvement, priority) per
    suggestion, in output order, floats rounded to 9 places."""
    log = spark.createDataFrame(rows, _SCHEMA)
    return [(r.ddl, r.query_count, round(r.avg_time_ms, 9),
             round(r.estimated_improvement, 9), round(r.priority_score, 9))
            for r in A.suggest_from_log(log, existing).collect()]


def test_improvement_formula(spark, monkeypatch):
    """Mean of the per-predicate values, unknown predicates count 0,
    capped at 1.0."""
    rows = [(["E"], ["p"], ["equality"], 100),
            (["R"], ["p"], ["range"], 100),
            (["I"], ["p"], ["in"], 100),
            (["L"], ["p"], ["like"], 100),
            (["M"], ["p"], ["equality", "like"], 100),
            (["U"], ["p"], ["equality", "unknown"], 100)]
    got = {ddl: imp for ddl, _, _, imp, _ in _suggest(spark, rows)}
    assert got == {"CREATE INDEX idx_e_p ON :E(p)": 0.9,
                   "CREATE INDEX idx_r_p ON :R(p)": 0.7,
                   "CREATE INDEX idx_i_p ON :I(p)": 0.6,
                   "CREATE INDEX idx_l_p ON :L(p)": 0.3,
                   "CREATE INDEX idx_m_p ON :M(p)": 0.6,
                   "CREATE INDEX idx_u_p ON :U(p)": 0.45}

    # the 1.0 cap: a per-predicate value above 1 never lifts the mean
    # past it
    monkeypatch.setitem(A.IMPROVEMENT, "equality", 1.5)
    got = {ddl: imp for ddl, _, _, imp, _ in _suggest(spark, rows)}
    assert got["CREATE INDEX idx_e_p ON :E(p)"] == 1.0
    assert got["CREATE INDEX idx_m_p ON :M(p)"] == 0.9
    assert got["CREATE INDEX idx_u_p ON :U(p)"] == 0.75


def test_suggestions_rank_skip_and_ddl(spark):
    rows = [
        (["User"], ["age", "city"], ["range", "equality"], 200),
        (["User"], ["age", "city"], ["range", "equality"], 400),
        (["Doc"], ["lang"], ["in"], 1_000),
        (["Doc"], ["body"], ["like"], 100),
        (["A", "B"], ["x"], ["equality"], 10),
        (["Doc"], ["title"], [], 10_000),           # improvement 0
        (["Doc"], ["kind"], ["like", "other"], 10_000),  # 0.15 < 0.2
        ([], ["x"], ["equality"], 10_000),          # no label
        (["T"], [], ["equality"], 10_000),          # no property
        (["Item"], ["sku"], ["equality"], 1_000),   # already indexed
    ]
    assert _suggest(spark, rows, ["idx_item_sku"]) == [
        ("CREATE INDEX idx_doc_lang ON :Doc(lang)", 1, 1000.0, 0.6, 600.0),
        ("CREATE INDEX idx_user_age_city ON :User(age, city)",
         2, 300.0, 0.8, 480.0),
        ("CREATE INDEX idx_doc_body ON :Doc(body)", 1, 100.0, 0.3, 30.0),
        # multi-label: the name joins every label, the DDL uses the first
        ("CREATE INDEX idx_a_b_x ON :A(x)", 1, 10.0, 0.9, 9.0),
    ]


def test_suggest_from_log_matches_driver_form(spark):
    """The reference's worked shape: per-pattern count and mean time,
    priority = count × improvement × avg_ms, highest priority first; an
    existing index name drops only its own pattern."""
    rows = [
        (["User"], ["age"], ["range"], 200),
        (["User"], ["age"], ["range"], 400),
        (["Doc"], ["lang"], ["equality"], 50),
        (["Doc"], ["title"], ["like"], 10_000),
        (["Item"], ["sku"], ["equality"], 1_000),
        ([], ["x"], ["equality"], 9_000),          # no label → skipped
        (["T"], [], ["equality"], 9_000),          # no props → skipped
    ]
    title = ("CREATE INDEX idx_doc_title ON :Doc(title)",
             1, 10000.0, 0.3, 3000.0)
    sku = ("CREATE INDEX idx_item_sku ON :Item(sku)", 1, 1000.0, 0.9, 900.0)
    age = ("CREATE INDEX idx_user_age ON :User(age)", 2, 300.0, 0.7, 420.0)
    lang = ("CREATE INDEX idx_doc_lang ON :Doc(lang)", 1, 50.0, 0.9, 45.0)
    assert _suggest(spark, rows) == [title, sku, age, lang]
    assert _suggest(spark, rows, ["idx_item_sku"]) == [title, age, lang]
