"""Statement classification (dialect/statement.py) and the one dispatch
table (dialect/engine.py DISPATCH): a statement's kind, its handler and
its access checks do not depend on comments, case or line breaks."""

import pytest

from trino_spark import infoschema
from trino_spark.dialect import access, branches, catalogs, dml
from trino_spark.dialect.access import AccessDenied
from trino_spark.dialect.engine import DISPATCH, TrinoEngine, classify

# One sample statement per key of DISPATCH.
SAMPLES = {
    "SELECT": "SELECT 1 AS x",
    "WITH": "WITH a AS (SELECT 1 AS x) SELECT x FROM a",
    "VALUES": "VALUES (1)",
    "TABLE": "TABLE nation",
    "WITH FUNCTION": "WITH FUNCTION f(x bigint) RETURNS bigint RETURN x + 1 SELECT f(1)",
    "PREPARE": "PREPARE q FROM SELECT ?",
    "DEALLOCATE": "DEALLOCATE PREPARE q",
    "EXECUTE": "EXECUTE q USING 1",
    "EXECUTE IMMEDIATE": "EXECUTE IMMEDIATE 'SELECT 1'",
    "DESCRIBE INPUT": "DESCRIBE INPUT q",
    "DESCRIBE OUTPUT": "DESCRIBE OUTPUT q",
    "CREATE FUNCTION": "CREATE FUNCTION f(x bigint) RETURNS bigint RETURN x + 1",
    "CREATE OR REPLACE FUNCTION": "CREATE OR REPLACE FUNCTION f(x bigint) RETURNS bigint RETURN x",
    "DROP FUNCTION": "DROP FUNCTION f",
    "SHOW CREATE FUNCTION": "SHOW CREATE FUNCTION f",
    "SET PATH": "SET PATH spark.default",
    "SHOW FUNCTIONS": "SHOW FUNCTIONS",
    "CREATE MATERIALIZED VIEW": "CREATE MATERIALIZED VIEW mv AS SELECT 1 AS x",
    "CREATE OR REPLACE MATERIALIZED VIEW": "CREATE OR REPLACE MATERIALIZED VIEW mv AS SELECT 1 AS x",
    "REFRESH MATERIALIZED VIEW": "REFRESH MATERIALIZED VIEW mv",
    "DROP MATERIALIZED VIEW": "DROP MATERIALIZED VIEW mv",
    "SHOW MATERIALIZED VIEWS": "SHOW MATERIALIZED VIEWS",
    "SHOW CREATE MATERIALIZED VIEW": "SHOW CREATE MATERIALIZED VIEW mv",
    "ALTER MATERIALIZED VIEW": "ALTER MATERIALIZED VIEW mv RENAME TO mw",
    "USE": "USE spark.default",
    "SET TIME ZONE": "SET TIME ZONE 'UTC'",
    "SET SESSION": "SET SESSION query_max_run_time = '1h'",
    "RESET SESSION": "RESET SESSION query_max_run_time",
    "SHOW SESSION": "SHOW SESSION",
    "SET SESSION AUTHORIZATION": "SET SESSION AUTHORIZATION alice",
    "RESET SESSION AUTHORIZATION": "RESET SESSION AUTHORIZATION",
    "EXPLAIN": "EXPLAIN SELECT 1",
    "DESCRIBE": "DESCRIBE nation",
    "SHOW CREATE TABLE": "SHOW CREATE TABLE nation",
    "SHOW STATS FOR": "SHOW STATS FOR nation",
    "ANALYZE": "ANALYZE nation",
    "CREATE ROLE": "CREATE ROLE r",
    "DROP ROLE": "DROP ROLE r",
    "SET ROLE": "SET ROLE r",
    "SHOW CURRENT ROLES": "SHOW CURRENT ROLES",
    "SHOW ROLE GRANTS": "SHOW ROLE GRANTS",
    "SHOW ROLES": "SHOW ROLES",
    "SHOW GRANTS": "SHOW GRANTS ON nation",
    "GRANT": "GRANT SELECT ON nation TO ROLE r",
    "REVOKE": "REVOKE SELECT ON nation FROM ROLE r",
    "DENY": "DENY DELETE ON nation TO ROLE r",
    "COMMENT ON TABLE": "COMMENT ON TABLE nation IS 'c'",
    "COMMENT ON COLUMN": "COMMENT ON COLUMN nation.n_name IS 'c'",
    "CALL": "CALL system.flush_query_log()",
    "CREATE BRANCH": "CREATE BRANCH b IN TABLE t",
    "CREATE OR REPLACE BRANCH": "CREATE OR REPLACE BRANCH b IN TABLE t",
    "DROP BRANCH": "DROP BRANCH b IN TABLE t",
    "ALTER BRANCH": "ALTER BRANCH main IN TABLE t FAST FORWARD TO b",
    "SHOW BRANCHES": "SHOW BRANCHES FROM TABLE t",
    "CREATE CATALOG": "CREATE CATALOG m USING memory",
    "DROP CATALOG": "DROP CATALOG m",
    "SHOW CATALOGS": "SHOW CATALOGS",
    "CREATE TABLE": "CREATE TABLE t AS SELECT 1 AS x",
    "DROP TABLE": "DROP TABLE t",
    "TRUNCATE TABLE": "TRUNCATE TABLE t",
    "INSERT INTO": "INSERT INTO t SELECT 1",
    "DELETE FROM": "DELETE FROM t WHERE x = 1",
    "UPDATE": "UPDATE t SET x = 2",
    "MERGE INTO": "MERGE INTO t USING s ON t.x = s.x WHEN MATCHED THEN DELETE",
    "CREATE VIEW": "CREATE VIEW v AS SELECT 1 AS x",
    "CREATE OR REPLACE VIEW": "CREATE OR REPLACE VIEW v AS SELECT 1 AS x",
    "DROP VIEW": "DROP VIEW v",
    "SHOW CREATE VIEW": "SHOW CREATE VIEW v",
    "ALTER TABLE": "ALTER TABLE t ADD COLUMN y bigint",
    "ALTER VIEW": "ALTER VIEW v RENAME TO w",
    "CREATE SCHEMA": "CREATE SCHEMA s",
    "DROP SCHEMA": "DROP SCHEMA s",
    "ALTER SCHEMA": "ALTER SCHEMA s RENAME TO s2",
    "SHOW CREATE SCHEMA": "SHOW CREATE SCHEMA s",
    "START TRANSACTION": "START TRANSACTION",
    "COMMIT": "COMMIT",
    "ROLLBACK": "ROLLBACK",
    "SHOW TABLES": "SHOW TABLES",
    "SHOW SCHEMAS": "SHOW SCHEMAS",
    "SHOW COLUMNS": "SHOW COLUMNS FROM nation",
}


def spellings(sample: str) -> list[str]:
    """The plain sample, behind a comment, with a comment after the first
    keyword, with a line comment inside, in lower case and with extra
    line breaks."""
    first, _, rest = sample.partition(" ")
    return [
        sample,
        "/* c */ " + sample,
        f"{first} /* c */ {rest}",
        f"{first}\n-- c\n{rest}",
        sample.lower(),
        "\n\n" + sample.replace(" ", "\n\n") + "\n;",
    ]


def test_every_kind_has_a_sample():
    assert set(SAMPLES) == set(DISPATCH)


def test_module_tables_are_disjoint_and_dispatched():
    modules = (access, branches, catalogs, dml, infoschema)
    keys = [k for m in modules for k in m.HANDLERS]
    assert len(keys) == len(set(keys))
    for m in modules:
        for kind, handler in m.HANDLERS.items():
            assert DISPATCH[kind] is handler


@pytest.mark.parametrize("kind", sorted(SAMPLES))
def test_spelling_does_not_change_kind(kind):
    plain = classify(SAMPLES[kind])
    assert plain.kind == kind
    words = [t.text.upper() for t in plain.tokens if t.kind == "WORD"]
    for text in spellings(SAMPLES[kind]):
        stmt = classify(text)
        assert stmt.kind == kind, text
        assert DISPATCH[stmt.kind] is DISPATCH[kind]
        assert [t.text.upper() for t in stmt.tokens if t.kind == "WORD"] == words, text
        assert "/*" not in stmt.text and "--" not in stmt.text


def test_longest_prefix_wins():
    assert classify("SET SESSION AUTHORIZATION bob").kind == "SET SESSION AUTHORIZATION"
    assert classify("set session x = 1").kind == "SET SESSION"
    assert classify("DESCRIBE OUTPUT q").kind == "DESCRIBE OUTPUT"
    assert classify("(SELECT 1) UNION (SELECT 2)").kind == "SELECT"
    assert classify("CREATE TEMPORARY VIEW v AS SELECT 1").kind is None


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    eng = TrinoEngine(spark, sf_dir=sf_dir)
    eng.sql("CREATE ROLE spell_reader")
    return eng


# Writes a role holding only SELECT on spell_t is denied, whatever the
# spelling.
WRITES = {
    "INSERT INTO": "INSERT INTO spell_t SELECT 7",
    "DELETE FROM": "DELETE FROM spell_t WHERE x = 1",
    "UPDATE": "UPDATE spell_t SET x = 2",
    "MERGE INTO": "MERGE INTO spell_t USING spell_t s ON spell_t.x = s.x WHEN MATCHED THEN DELETE",
    "TRUNCATE TABLE": "TRUNCATE TABLE spell_t",
    "ALTER TABLE": "ALTER TABLE spell_t ADD COLUMN y bigint",
    "DROP TABLE": "DROP TABLE spell_t",
    "CREATE TABLE": "CREATE TABLE spell_new AS SELECT * FROM spell_t",
}


@pytest.mark.parametrize("kind", sorted(WRITES))
def test_spelling_does_not_change_access_denied(engine, kind):
    engine.sql("SET ROLE NONE")
    engine.sql("DROP TABLE IF EXISTS spell_t")
    engine.sql("CREATE TABLE spell_t AS SELECT 1 AS x")
    engine.sql("GRANT SELECT ON spell_t TO ROLE spell_reader")
    versions = len(dml.list_versions(engine, "spell_t"))
    messages = []
    for text in spellings(WRITES[kind]):
        engine.sql("SET ROLE spell_reader")
        try:
            with pytest.raises(AccessDenied) as denied:
                engine.sql(text)
        finally:
            engine.sql("SET ROLE NONE")
        messages.append(str(denied.value))
        # the denied statement left the table as it was, and readable
        assert engine.sql("SELECT count(*) AS c FROM spell_t").collect()[0].c == 1, text
        assert engine.sql("SELECT * FROM spell_t").columns == ["x"], text
        assert len(dml.list_versions(engine, "spell_t")) == versions, text
    assert len(set(messages)) == 1, messages
    assert "spell_new" not in engine.dml_tables


def test_commented_insert_commits_one_snapshot(engine):
    engine.sql("SET ROLE NONE")
    engine.sql("DROP TABLE IF EXISTS snap_t")
    engine.sql("CREATE TABLE snap_t AS SELECT 1 AS x")
    before = dml.list_versions(engine, "snap_t")
    prev = max(e["version"] for e in before)
    engine.sql("INSERT /* c */ INTO snap_t SELECT 7")
    assert len(dml.list_versions(engine, "snap_t")) == len(before) + 1
    old = engine.sql(f"SELECT count(*) AS c FROM snap_t FOR VERSION AS OF {prev}")
    assert old.collect()[0].c == 1
    assert engine.sql("SELECT count(*) AS c FROM snap_t").collect()[0].c == 2
    engine.sql("GRANT SELECT ON snap_t TO ROLE spell_reader")
    engine.sql("SET ROLE spell_reader")
    try:
        with pytest.raises(AccessDenied):
            engine.sql("INSERT /* c */ INTO snap_t SELECT 7")
    finally:
        engine.sql("SET ROLE NONE")
    assert engine.sql("SELECT count(*) AS c FROM snap_t").collect()[0].c == 2


def test_describe_of_a_table_named_like_a_keyword(engine):
    # DESCRIBE OUTPUT is the longer key, but `DESCRIBE output` names a table
    engine.sql("SET ROLE NONE")
    engine.sql("DROP TABLE IF EXISTS output")
    engine.sql("CREATE TABLE output AS SELECT 1 AS x")
    try:
        assert [r.column_name for r in engine.sql("DESCRIBE output").collect()] == ["x"]
    finally:
        engine.sql("DROP TABLE output")
