"""SQL-over-HTTP serving surface (serving.py): the dashboard-facing query
path the reference fronts with Grafana->ClickHouse (SURVEY §2.A A14),
served read-only from a live SparkSession over stdlib HTTP."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from demo_otel_parquet_antalya_spark.serving import start_sql_endpoint

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def endpoint(spark):
    server = start_sql_endpoint(spark, SF_DIR, row_cap=500)
    host, port = server.server_address
    yield f"http://{host}:{port}"
    server.shutdown()


def _post(base, path, payload):
    req = urllib.request.Request(
        base + path,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req) as resp:
        return json.loads(resp.read())


def _post_err(base, path, payload):
    try:
        _post(base, path, payload)
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())
    raise AssertionError("expected an HTTP error")


def test_health_and_catalog(endpoint):
    with urllib.request.urlopen(endpoint + "/health") as resp:
        health = json.loads(resp.read())
    assert health["status"] == "ok"
    assert "lineitem" in health["tables"]
    with urllib.request.urlopen(endpoint + "/queries") as resp:
        catalog = json.loads(resp.read())
    assert "scan_count" in catalog and len(catalog) > 200


def test_query_matches_direct_spark(endpoint, spark):
    sql = (
        "SELECT l_returnflag AS flag, COUNT(*) AS n, "
        "ROUND(SUM(l_quantity), 2) AS qty "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "GROUP BY l_returnflag ORDER BY flag"
    )
    got = _post(endpoint, "/query", {"sql": sql})
    want = [[r[0], r[1], float(r[2])] for r in spark.sql(sql).collect()]
    assert got["columns"] == ["flag", "n", "qty"]
    assert got["rows"] == want
    assert got["truncated"] is False


def test_timestamps_serialize_and_row_cap_truncates(endpoint):
    got = _post(
        endpoint,
        "/query",
        {"sql": "SELECT event_id, ts FROM events ORDER BY event_id", "limit": 7},
    )
    assert got["row_count"] == 7 and got["truncated"] is True
    # ISO-formatted timestamp string, parseable back
    assert "T" in got["rows"][0][1] or "-" in got["rows"][0][1]
    # the per-request limit can only LOWER the server cap
    big = _post(
        endpoint,
        "/query",
        {"sql": "SELECT event_id FROM events", "limit": 10_000_000},
    )
    assert big["row_count"] <= 500


def test_read_only_enforcement(endpoint):
    code, err = _post_err(endpoint, "/query", {"sql": "DROP TABLE lineitem"})
    assert code == 400 and "read-only" in err["error"]
    code, err = _post_err(
        endpoint, "/query", {"sql": "WITH x AS (SELECT 1) INSERT INTO t SELECT * FROM x"}
    )
    assert code == 400 and "read-only" in err["error"]
    # mutation keywords INSIDE string literals are data, not statements
    ok = _post(endpoint, "/query", {"sql": "SELECT 'please do not DROP me' AS s"})
    assert ok["rows"] == [["please do not DROP me"]]
    # malformed SQL surfaces as a 400 with the analyzer message, not a 500
    code, err = _post_err(endpoint, "/query", {"sql": "SELECT FROM nothing x y z"})
    assert code == 400


def test_panels_serve_reference_dashboard_over_ingested_logs(spark, tmp_path):
    """The reference's full loop, Spark-side: generated OTLP landing files
    -> exactly-once ingest -> partitioned warehouse -> the Grafana panel
    queries (facade q5/q6) served over HTTP. Values must equal the direct
    facade call on the same warehouse."""
    from demo_otel_parquet_antalya_spark.plans import facade
    from demo_otel_parquet_antalya_spark.sources.generator import generate_files
    from demo_otel_parquet_antalya_spark.streaming.ingest import run_ingest_once

    landing = str(tmp_path / "landing")
    wh = str(tmp_path / "warehouse")
    generate_files(landing, n_files=3, records_per_file=50)
    run_ingest_once(spark, landing, wh, str(tmp_path / "ckpt"))

    server = start_sql_endpoint(spark, SF_DIR, row_cap=5000, logs_dir=wh)
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        with urllib.request.urlopen(f"{base}/panels/q5_timeseries?interval=30") as r:
            got = json.loads(r.read())
        logs = spark.read.parquet(wh)
        want = facade.q5_timeseries(logs, interval_seconds=30).collect()
        assert got["columns"] == ["t", "series", "value"]
        assert got["row_count"] == len(want)
        assert sorted(r_[2] for r_ in got["rows"]) == sorted(r_["value"] for r_ in want)
        with urllib.request.urlopen(f"{base}/panels/q6_log_panel?limit=25") as r:
            q6 = json.loads(r.read())
        assert q6["row_count"] == 25
        assert q6["columns"] == [
            "log_time", "message", "service_name", "scope_name", "severity_text",
        ]
        code, err = _post_err(base, "/query", {"sql": "DELETE FROM lineitem"})
        assert code == 400
        try:
            urllib.request.urlopen(f"{base}/panels/nope")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        server.shutdown()


def test_panels_without_logs_dir_rejected(endpoint):
    try:
        urllib.request.urlopen(endpoint + "/panels/q5_timeseries")
    except urllib.error.HTTPError as e:
        assert e.code == 400
        assert "warehouse" in json.loads(e.read())["error"]
    else:
        raise AssertionError("expected 400")


def test_run_catalog_query_by_name(endpoint, spark):
    from demo_otel_parquet_antalya_spark.plans import QUERIES

    got = _post(endpoint, "/run/agg_multikey_counts", {})
    want = QUERIES["agg_multikey_counts"].build(spark, SF_DIR).count()
    assert got["row_count"] == want
    code, err = _post_err(endpoint, "/run/no_such_query", {})
    assert code == 404


def test_jvm_escape_functions_rejected(endpoint):
    """reflect()/java_method() invoke arbitrary JVM statics from a plain
    SELECT — the read-only gate must block them (ADVICE r6)."""
    for sql in (
        "SELECT reflect('java.lang.System', 'getProperty', 'user.dir')",
        "SELECT java_method('java.lang.System', 'exit', 1)",
        # Spark 4's null-on-error spelling is the same escape
        "SELECT try_reflect('java.lang.System', 'getProperty', 'user.dir')",
        "SELECT `try_reflect`('java.lang.System', 'getProperty', 'user.dir')",
        "SELECT 1 WHERE Reflect ('a','b') IS NULL",
        # bypass spellings (ADVICE r7): Spark accepts backquoted function
        # names and comments between the name and the paren
        "SELECT `reflect`('java.lang.System', 'getProperty', 'user.dir')",
        "SELECT reflect/**/('java.lang.System', 'getProperty', 'user.dir')",
        "SELECT reflect -- c\n('java.lang.System', 'getProperty', 'a')",
        "SELECT `java_method`/* x */('java.lang.System', 'exit', 1)",
        "SELECT REFLECT",  # bare word: no paren needed to be suspicious
        # a quote INSIDE a comment must not swallow the following code
        # (regex-pass ordering bug: string-strip-first deleted `reflect(`)
        "SELECT -- 'x\n reflect('java.lang.System', 'getProperty', 'a')",
        "SELECT /* ' */ reflect('java.lang.System', 'getProperty', 'a')",
    ):
        code, err = _post_err(endpoint, "/query", {"sql": sql})
        assert code == 400 and "reflection" in err["error"], sql
    # but the words as plain string DATA are not blocked (strings are
    # stripped before the scan; decoys inside comments are stripped too)
    ok = _post(endpoint, "/query", {"sql": "SELECT 'reflect(x)' AS s"})
    assert ok["rows"] == [["reflect(x)"]]
    ok = _post(endpoint, "/query", {"sql": "SELECT /* reflect */ 1 AS one"})
    assert ok["rows"] == [[1]]


def test_lexer_desync_bypasses_rejected(endpoint):
    """ADVICE r8: the scanner must lex exactly like Spark does, or a quote
    the scanner mis-classifies desynchronizes it and hides code inside
    what it thinks is a string. Spark's defaults (ANSI on, 4.1.2): "..."
    is a STRING literal, and backslash escapes are active inside
    literals. Both desyncs were demonstrated live-executing reflect()."""
    for sql in (
        # the advisor's exact payload: "a'" is a complete double-quoted
        # string; a scanner ignorant of " sees an open '-literal swallow
        # `, reflect(` and misses the call
        "SELECT \"a'\", reflect('java.lang.System','getProperty','user.dir')",
        # backslash desync: '\'' is the one-char string ' — a scanner that
        # treats \ as ordinary sees '' (empty) then an opening quote, and
        # the reflect call lands inside the phantom string
        "SELECT '\\'', reflect('java.lang.System','getProperty','user.dir')",
        # a quote inside a backquoted identifier must not open string mode
        "SELECT `a'b`, reflect('java.lang.System','getProperty','a') FROM region",
        # same desyncs aimed at the mutation scan
        "SELECT \"a'\"; DROP TABLE region",
    ):
        code, err = _post_err(endpoint, "/query", {"sql": sql})
        assert code == 400 and "read-only" in err["error"], sql
    # and the fixed scanner must NOT false-positive on legitimate
    # double-quoted / escaped strings containing suspicious words
    ok = _post(endpoint, "/query", {"sql": 'SELECT "it\'s a DROP decoy" AS s'})
    assert ok["rows"] == [["it's a DROP decoy"]]
    ok = _post(endpoint, "/query", {"sql": "SELECT 'a\\'reflect(b)' AS s"})
    assert ok["rows"] == [["a'reflect(b)"]]


def test_scannable_honors_session_lexer_modes():
    """_scannable is parameterized by the session's actual lexer config:
    spark.sql.parser.escapedStringLiterals flips backslash handling, and
    spark.sql.ansi.doubleQuotedIdentifiers flips "..." between string
    (blanked) and identifier (kept, so deny-words in it still match)."""
    from demo_otel_parquet_antalya_spark.serving import _scannable

    # default modes: escapes active, "..." is a string
    s = _scannable("SELECT \"a'\", reflect('x')")
    assert "reflect" in s
    s = _scannable("SELECT '\\'', reflect('x')")
    assert "reflect" in s and "x" not in s
    # escapedStringLiterals=true: backslash is ordinary, so '\' is a
    # complete string and the reflect after it is code
    s = _scannable("SELECT '\\', reflect('x')", backslash_escapes=False)
    assert "reflect" in s
    # ...while under default escapes that same text is one open literal
    # (conservative: nothing after it is treated as code)
    s = _scannable("SELECT '\\', reflect('x')")
    assert "reflect" not in s
    # doubleQuotedIdentifiers=true: the body is an identifier and KEPT
    s = _scannable('SELECT "reflect"(1)', double_quoted_identifiers=True)
    assert "reflect" in s
    # ...but as a string (default) it is data and blanked
    s = _scannable('SELECT "reflect" AS s')
    assert "reflect" not in s


def test_parsed_plan_gate_catches_functions_and_statements(spark):
    """The scanner-independent layer: parse the statement, walk the logical
    plan (one py4j parse + one toJSON — no text heuristics) for denied
    function names AND mutating statement classes. String literals live in
    separate JSON fields, so data containing 'reflect' or 'DROP' never
    false-positives here."""
    from demo_otel_parquet_antalya_spark.serving import _parsed_reject

    assert "reflection" in _parsed_reject(
        spark, "SELECT `reflect`('java.lang.String','valueOf',1)"
    )
    assert "reflection" in _parsed_reject(
        spark, "SELECT upper(s) FROM t WHERE x IN (SELECT java_method('c') FROM u)"
    )
    # a CTE head smuggling DML: the top node is UnresolvedWith, the DML is
    # a child — the walk must find it wherever it sits
    assert "mutation" in _parsed_reject(
        spark, "WITH x AS (SELECT 1 AS a) INSERT INTO tgt SELECT * FROM x"
    )
    assert _parsed_reject(spark, "SELECT 'reflect(x)' AS s") is None
    assert _parsed_reject(spark, "SELECT upper('java_method') AS s") is None
    assert _parsed_reject(spark, "SELECT 'please DROP nothing' AS s") is None
    # expression classes named Create* (CreateNamedStruct etc.) are NOT
    # mutations — package-scoped matching must let them through
    assert _parsed_reject(
        spark, "SELECT named_struct('a', 1) AS s, array(1, 2) AS t, map('k', 1) AS u"
    ) is None
    # unparseable input is not this layer's problem (spark.sql re-raises)
    assert _parsed_reject(spark, "SELEC nope") is None


def test_script_transform_shell_execution_rejected(endpoint, spark, tmp_path):
    """SELECT TRANSFORM(...) USING 'cmd' pipes rows through an ARBITRARY
    HOST SHELL COMMAND — a strictly stronger escape than reflect() (found
    by self-review, verified live: the command executed). The text scan
    cannot block it (`transform` is also the legitimate array HOF and
    `USING` appears in join syntax); the parse layer denies the
    ScriptTransformation plan class exactly."""
    canary = tmp_path / "gate_canary"
    for sql in (
        f"SELECT TRANSFORM(a) USING 'touch {canary}' AS (out STRING) "
        "FROM (SELECT 1 AS a)",
        # CTE wrapping must not hide the transform node from the walk
        f"WITH x AS (SELECT 1 AS a) SELECT TRANSFORM(a) USING 'touch {canary}' "
        "AS (out STRING) FROM x",
    ):
        code, err = _post_err(endpoint, "/query", {"sql": sql})
        assert code == 400 and "read-only" in err["error"], sql
    assert not canary.exists()  # the command must never have run
    # the array HOF named transform stays legal — same word, different node
    ok = _post(
        endpoint,
        "/query",
        {"sql": "SELECT transform(array(1, 2), x -> x + 1) AS t"},
    )
    assert ok["rows"] == [[[2, 3]]]


def test_direct_file_path_relations_rejected(endpoint):
    """SELECT * FROM <format>.`<path>` reads ARBITRARY HOST FILES
    (spark.sql.runSQLOnFiles defaults true) — an exfiltration escape from
    a port meant to serve the registered views (found by self-review,
    verified live against /etc/hostname before fixing). Denied at the
    parse layer: any path separator in a name part (no legal catalog
    identifier has one), and since r10 any multi-part relation that does
    not resolve as a real catalog table (fail-closed, no format list)."""
    for sql in (
        "SELECT * FROM text.`/etc/hostname`",
        "SELECT * FROM parquet.`/root/testdata/sf0.001/lineitem.parquet`",
        "SELECT * FROM binaryFile.`/etc`",
        "WITH x AS (SELECT * FROM csv.`/etc/passwd`) SELECT * FROM x",
        # relative path, still a file read
        "SELECT * FROM json.`spark-warehouse`",
    ):
        code, err = _post_err(endpoint, "/query", {"sql": sql})
        assert code == 400 and "file-path" in err["error"], sql
    # registered views and TVFs stay legal
    ok = _post(endpoint, "/query", {"sql": "SELECT COUNT(*) AS n FROM region"})
    assert ok["rows"] == [[5]]
    ok = _post(endpoint, "/query", {"sql": "SELECT * FROM range(3)"})
    assert ok["row_count"] == 3


def test_catalog_database_named_like_a_format_stays_reachable(endpoint, spark):
    """`json.events_t` (a real table in a database literally named json)
    and `json.`somefile`` (a file read) parse to the SAME relation node —
    Spark's file fallback only fires when catalog resolution fails, so
    the gate mirrors that: a relation that resolves as a real catalog
    table is legal, one that would fall through to the file reader is
    denied (self-review r9: the first cut denied the whole database)."""
    spark.sql("CREATE DATABASE IF NOT EXISTS json")
    try:
        spark.createDataFrame([(1, "a")], "id long, v string").write.mode(
            "overwrite"
        ).saveAsTable("json.events_t")
        ok = _post(endpoint, "/query", {"sql": "SELECT COUNT(*) AS n FROM json.events_t"})
        assert ok["rows"] == [[1]]
        # a NON-table second part under a format-named first part is still
        # the file fallback -> denied
        code, err = _post_err(
            endpoint, "/query", {"sql": "SELECT * FROM json.`no_such_table`"}
        )
        assert code == 400 and "file-path" in err["error"]
    finally:
        spark.sql("DROP DATABASE IF EXISTS json CASCADE")


def test_identifier_clause_rejected(endpoint):
    """IDENTIFIER('...') defers name resolution past parse time, so the
    plan walk cannot see what it becomes: IDENTIFIER('reflect')(...) and
    FROM IDENTIFIER('text.`/etc/x`') both live-executed before this fix
    (self-review r9), and the name can be built by concatenation
    ('re' || 'flect'), so no string-level check is sound — dynamic
    identifiers fail closed."""
    for sql in (
        "SELECT IDENTIFIER('reflect')('java.lang.System','getProperty','user.dir')",
        "SELECT IDENTIFIER('re' || 'flect')('java.lang.System','getProperty','x')",
        "SELECT * FROM IDENTIFIER('text.`/etc/hostname`')",
        "WITH x AS (SELECT 1 AS a) SELECT IDENTIFIER('java_method')('a','b') FROM x",
    ):
        code, err = _post_err(endpoint, "/query", {"sql": sql})
        assert code == 400 and "IDENTIFIER" in err["error"], sql
    # the word as data or as a plain column name stays legal
    ok = _post(endpoint, "/query", {"sql": "SELECT 'IDENTIFIER(x)' AS s"})
    assert ok["rows"] == [["IDENTIFIER(x)"]]


def test_nested_bracketed_comments_accepted(endpoint):
    """Spark nests /* */ comments (SPARK-28880); a scanner that ends the
    comment at the first */ re-exposes the tail as code and rejects
    legitimate statements (found by self-review r9 — the desync was in
    the safe direction, but a false 400 on a valid dashboard query is
    still a gate bug)."""
    ok = _post(
        endpoint,
        "/query",
        {"sql": "SELECT /* note /* inner */ do not drop anything */ 1 AS one"},
    )
    assert ok["rows"] == [[1]]
    # ...while an evil token after a REAL comment end is still caught
    code, err = _post_err(
        endpoint,
        "/query",
        {"sql": "SELECT /* c */ reflect('java.lang.System','getProperty','x')"},
    )
    assert code == 400


def test_raw_string_desync_bypasses_rejected(endpoint):
    """Spark lexes r'...'/R"..."/X'...' with NO backslash escapes (the
    prefix wins over the session escape mode); a scanner that keeps
    processing \\' inside them swallows the statement tail. Found live
    while testing the r8 fix: a raw-string desync hid a CTE-smuggled
    INSERT from the mutation scan, and the parse layer only checked
    function names."""
    for sql in (
        # raw-string desync hiding a reflect call
        "SELECT r'\\', reflect('java.lang.System','getProperty','user.dir')",
        # raw-string desync hiding CTE-smuggled DML (executes if unrejected)
        "WITH x AS (SELECT r'\\' AS a) INSERT INTO tgt SELECT * FROM x",
        # plain CTE-smuggled DML, no desync needed: the bare-word scan
        # catches it, and the parse layer must too
        "WITH x AS (SELECT 1 AS a) INSERT INTO tgt SELECT * FROM x",
        # capital prefix and double-quoted raw form
        'SELECT R"\\", java_method(\'java.lang.System\',\'exit\',1)',
    ):
        code, err = _post_err(endpoint, "/query", {"sql": sql})
        assert code == 400 and "read-only" in err["error"], sql
    # benign raw/hex literals pass and keep their exact content
    ok = _post(endpoint, "/query", {"sql": "SELECT r'a\\reflect(x)' AS s"})
    assert ok["rows"] == [["a\\reflect(x)"]]
    ok = _post(endpoint, "/query", {"sql": "SELECT hex(X'1C') AS s"})
    assert ok["rows"] == [["1C"]]
    # an identifier ENDING in r followed by a string is not a raw prefix
    ok = _post(endpoint, "/query", {"sql": "SELECT 'x' yr FROM (SELECT 1)"})
    assert ok["columns"] == ["yr"]


def test_gate_differential_fuzz(spark):
    """Differential fuzz of the read-only gate: compose statements from
    fragments whose intent is KNOWN by construction (evil calls included
    as code vs. decoys confined to string literals / comments), and check
    both directions — every statement carrying an evil fragment as code
    is rejected, and every purely-benign statement that Spark can parse
    is accepted (no false positives from scanner desync). This is the
    property the hand-picked bypass cases instantiate; the fuzz walks the
    cross product."""
    import itertools

    from demo_otel_parquet_antalya_spark.serving import _reject_reason

    LITERALS = [
        "'it''s'",
        "'a\\'b'",
        "\"dq'lit\"",
        "'reflect(x)'",
        '"DROP TABLE t"',
        "'-- not a comment'",
        "'/*'",
        "r'raw\\'",
        'R"raw\\"',
        "X'1C'",
    ]
    BENIGN = [
        "1",
        "upper('x')",
        "length('a''b')",
        "`a'b`",
        "trim(\"x'\")",
    ]
    EVIL = [
        "reflect('java.lang.String','valueOf',1)",
        "java_method('java.lang.String','valueOf',1)",
        "`reflect`('java.lang.String','valueOf',1)",
        "reflect/**/('java.lang.String','valueOf',1)",
        # not an escape per se, but the r10 allowlist contract: a function
        # name the session catalog has never heard of fails CLOSED
        "never_registered_fn_r10(1)",
    ]
    COMMENTS = ["", " -- tail'", " /* c ' reflect( */", " /* o /* i */ o' */"]

    def parses(sql):
        try:
            spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
            return True
        except Exception:
            return False

    checked_evil = checked_benign = 0
    for lit, ben, com in itertools.product(LITERALS, BENIGN, COMMENTS):
        benign_sql = f"SELECT {lit} AS a, {ben} AS b{com}"
        if parses(benign_sql):
            checked_benign += 1
            assert _reject_reason(benign_sql, spark) is None, benign_sql
        for evil in EVIL:
            evil_sql = f"SELECT {lit} AS a, {ben} AS b, {evil} AS c{com}"
            checked_evil += 1
            assert _reject_reason(evil_sql, spark) is not None, evil_sql
    # the cross product must actually have exercised both directions
    assert checked_benign >= 80 and checked_evil >= 300


def test_mutators_hidden_in_comments_still_rejected(endpoint):
    """Comment stripping must not UNHIDE mutation text either way: a DROP
    smuggled around comments is still caught by the bare-word scan."""
    for sql in (
        "SELECT 1; DROP/**/TABLE region",
        "SELECT 1; -- 'x\n DROP TABLE region",  # quote-in-comment trick
    ):
        code, err = _post_err(endpoint, "/query", {"sql": sql})
        assert code == 400 and "mutation" in err["error"], sql
    # but comment markers INSIDE string data stay data
    ok = _post(endpoint, "/query", {"sql": "SELECT 'a--b' AS s, '/*' AS t"})
    assert ok["rows"] == [["a--b", "/*"]]


def test_timeout_flag_alone_is_not_a_408():
    """_run_bounded classifies 408 only when the exception chain looks
    like OUR job group's cancellation — an unrelated error racing the
    deadline timer stays a client error (ADVICE r7)."""
    from demo_otel_parquet_antalya_spark.serving import _is_cancellation

    group = "http-deadbeef1234"
    assert _is_cancellation(
        RuntimeError(f"Job 7 cancelled part of cancelled job group {group}"),
        group,
    )
    chained = RuntimeError("collect failed")
    chained.__cause__ = RuntimeError(f"cancellation of job group {group}")
    assert _is_cancellation(chained, group)
    assert not _is_cancellation(
        ValueError("division by zero in panel arithmetic"), group
    )
    # the word 'cancel' WITHOUT our group id is not our cancellation
    assert not _is_cancellation(
        RuntimeError("Table or view not found: cancellations"), group
    )


def test_serving_fair_conf_paths_are_unique(tmp_path):
    """The allocation file must be a fresh mkstemp path, not a fixed name
    in the shared temp dir (multi-user collision / symlink clobber)."""
    from demo_otel_parquet_antalya_spark.serving import serving_fair_conf

    a = serving_fair_conf(str(tmp_path))
    b = serving_fair_conf(str(tmp_path))
    pa, pb = a["spark.scheduler.allocation.file"], b["spark.scheduler.allocation.file"]
    assert pa != pb
    for p in (pa, pb):
        with open(p) as f:
            body = f.read()
        assert '<pool name="serving">' in body and "FAIR" in body
    assert a["spark.scheduler.mode"] == "FAIR"


@pytest.fixture(scope="module")
def logs_endpoint(spark, tmp_path_factory):
    """An endpoint over a small ingested logs warehouse + its maintained
    30 s (service, severity) multi-dim rollup — the finest dashboard
    grain, serving both the q5 and q3 rollup routes — with a short
    per-request deadline for the cancellation tests."""
    from demo_otel_parquet_antalya_spark.sources.generator import generate_files
    from demo_otel_parquet_antalya_spark.streaming.ingest import run_ingest_once
    from demo_otel_parquet_antalya_spark.streaming.rollup import incremental_rollup

    tmp = tmp_path_factory.mktemp("serving_logs")
    landing, wh = str(tmp / "landing"), str(tmp / "warehouse")
    generate_files(landing, n_files=3, records_per_file=60)
    run_ingest_once(spark, landing, wh, str(tmp / "ckpt"))
    rollup = str(tmp / "rollup")
    q = incremental_rollup(
        spark.readStream.schema(spark.read.parquet(wh).schema).parquet(wh),
        rollup, str(tmp / "rollup_ckpt"),
        bucket="30 seconds", ts_col="timestamp",
        dim_cols=("service_name", "severity_text"),
    )
    q.awaitTermination()
    server = start_sql_endpoint(
        spark, SF_DIR, row_cap=5000, logs_dir=wh, rollup_dir=rollup,
        rollup_dims=("service_name", "severity_text"),
        request_timeout_s=2.5,
    )
    host, port = server.server_address
    yield f"http://{host}:{port}", wh
    server.shutdown()


def test_q5_served_from_rollup_matches_raw_over_http(logs_endpoint):
    """?source=rollup routes the time-series panel through the maintained
    (bucket, service, severity) snapshot (severity summed out — counts
    re-aggregate) — values must equal the raw-scan panel (the O(buckets)
    production routing SCALE.md measures as flat at 100x the raw
    volume)."""
    base, _wh = logs_endpoint
    # cold first use can brush the fixture's deliberately-short 2.5 s
    # cancellation deadline on a loaded box; warm both routes once
    for path in ("/panels/q5_timeseries?interval=30",
                 "/panels/q5_timeseries?source=rollup"):
        try:
            urllib.request.urlopen(base + path).read()
        except urllib.error.HTTPError:
            pass
    with urllib.request.urlopen(
        f"{base}/panels/q5_timeseries?interval=30&source=raw"
    ) as r:
        raw = json.loads(r.read())
    with urllib.request.urlopen(
        f"{base}/panels/q5_timeseries?source=rollup"
    ) as r:
        routed = json.loads(r.read())
    assert routed["row_count"] == raw["row_count"] > 0
    assert sorted(map(tuple, routed["rows"])) == sorted(map(tuple, raw["rows"]))
    # ad-hoc filters on MAINTAINED dimensions apply to the snapshot
    # exactly (filtering a dim column commutes with the count
    # re-aggregation): routed == raw under the same filter
    with urllib.request.urlopen(
        f"{base}/panels/q5_timeseries?source=rollup&filter=severity_text=ERROR"
    ) as r:
        routed_f = json.loads(r.read())
    with urllib.request.urlopen(
        f"{base}/panels/q5_timeseries?interval=30&source=raw"
        "&filter=severity_text=ERROR"
    ) as r:
        raw_f = json.loads(r.read())
    assert routed_f["row_count"] == raw_f["row_count"] > 0
    assert sorted(map(tuple, routed_f["rows"])) == sorted(map(tuple, raw_f["rows"]))
    # ...while a filter on a NON-maintained column is a 400 (serve from
    # raw), never a silently-wrong pre-aggregated answer
    try:
        urllib.request.urlopen(
            f"{base}/panels/q5_timeseries?source=rollup&filter=body=~%25x%25"
        )
    except urllib.error.HTTPError as e:
        assert e.code == 400 and "dimensions" in json.loads(e.read())["error"]
    else:
        raise AssertionError("expected 400")
    # counts re-aggregate: a MULTIPLE of the maintained 30 s grain is
    # served exactly by re-bucketing the snapshot...
    with urllib.request.urlopen(
        f"{base}/panels/q5_timeseries?source=rollup&interval=60"
    ) as r:
        routed60 = json.loads(r.read())
    with urllib.request.urlopen(
        f"{base}/panels/q5_timeseries?interval=60&source=raw"
    ) as r:
        raw60 = json.loads(r.read())
    assert routed60["row_count"] == raw60["row_count"] > 0
    assert sorted(map(tuple, routed60["rows"])) == sorted(map(tuple, raw60["rows"]))
    # ...while a NON-multiple grain is an error, never silently wrong
    try:
        urllib.request.urlopen(
            f"{base}/panels/q5_timeseries?source=rollup&interval=45"
        )
    except urllib.error.HTTPError as e:
        assert e.code == 400 and "not a multiple" in json.loads(e.read())["error"]
    else:
        raise AssertionError("expected 400")


def test_q2_pruned_matches_raw_over_http(logs_endpoint):
    """?source=pruned serves 'newest N' from the newest hour directories
    (tail pruning) — values must equal the full-scan Q2, with and without
    an ad-hoc filter (filters apply before the widening count, so
    filtered results stay complete)."""
    base, _wh = logs_endpoint
    # cold first use can brush the fixture's deliberately-short 2.5 s
    # cancellation deadline on a loaded box; warm both routes once
    for path in ("/panels/q2_recent_logs?limit=1",
                 "/panels/q2_recent_logs?limit=1&source=pruned"):
        try:
            urllib.request.urlopen(base + path).read()
        except urllib.error.HTTPError:
            pass
    with urllib.request.urlopen(
        f"{base}/panels/q2_recent_logs?limit=10&source=raw"
    ) as r:
        raw = json.loads(r.read())
    with urllib.request.urlopen(
        f"{base}/panels/q2_recent_logs?limit=10&source=pruned"
    ) as r:
        pruned = json.loads(r.read())
    assert pruned["row_count"] == raw["row_count"] == 10
    assert sorted(map(tuple, pruned["rows"])) == sorted(map(tuple, raw["rows"]))
    svc = raw["rows"][0][1]
    q = f"limit=5&source=pruned&filter=service_name={svc}"
    with urllib.request.urlopen(f"{base}/panels/q2_recent_logs?{q}") as r:
        filt = json.loads(r.read())
    with urllib.request.urlopen(
        f"{base}/panels/q2_recent_logs?limit=5&source=raw&filter=service_name={svc}"
    ) as r:
        want = json.loads(r.read())
    assert sorted(map(tuple, filt["rows"])) == sorted(map(tuple, want["rows"]))
    # a huge client limit is clamped to the endpoint's row cap before the
    # pruned route's driver-side take() (no driver bomb, no error)
    with urllib.request.urlopen(
        f"{base}/panels/q2_recent_logs?limit=999999999&source=pruned"
    ) as r:
        capped = json.loads(r.read())
    assert capped["row_count"] <= 5000  # the fixture's row_cap


def test_time_filter_prunes_partition_directories(logs_endpoint, spark):
    """The $timeFilter macro must reach the scan as PARTITION filters
    (directory pruning), not only row-group stats — the O(window) vs
    O(history) difference at warehouse scale."""
    from demo_otel_parquet_antalya_spark.plans import facade

    _base, wh = logs_endpoint
    logs = spark.read.parquet(wh)
    lo = logs.selectExpr("min(timestamp) AS m").first()[0]
    df = facade.q5_timeseries(logs, lo, lo)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "PartitionFilters: []" not in pf[0]
    # and the derived predicates never change values (implied by the row
    # predicate): full-range query equals the unfiltered aggregate
    hi = logs.selectExpr("max(timestamp) AS m").first()[0]
    full = facade.q5_timeseries(logs, lo, hi).count()
    assert full == facade.q5_timeseries(logs).count() > 0


def test_q2_pruned_widens_until_enough_rows(spark, tmp_path):
    """A limit larger than the newest hour's row count forces the
    widening loop across hour partitions; values must equal full-scan Q2
    as multisets."""
    from demo_otel_parquet_antalya_spark.plans import facade
    from demo_otel_parquet_antalya_spark.sources.generator import generate_files
    from demo_otel_parquet_antalya_spark.streaming.ingest import run_ingest_once

    landing, wh = str(tmp_path / "l"), str(tmp_path / "wh")
    # two batches two hours apart -> at least two hour partitions
    generate_files(landing, n_files=2, records_per_file=30)
    generate_files(
        str(tmp_path / "l2"), n_files=2, records_per_file=30,
        base_ns=1_700_000_000_000_000_000 + 2 * 3600 * 1_000_000_000,
    )
    import shutil

    for f in (tmp_path / "l2").iterdir():
        shutil.move(str(f), landing + "/x_" + f.name)
    run_ingest_once(spark, landing, wh, str(tmp_path / "c"))
    logs = spark.read.parquet(wh)
    assert len(facade.list_partition_hours(spark, wh)) >= 2
    want = sorted(tuple(r) for r in facade.q2_recent_logs(logs, 90).collect())
    got = sorted(
        tuple(r) for r in facade.q2_recent_logs_pruned(spark, wh, 90).collect()
    )
    assert got == want and len(got) == 90


def test_rollup_source_without_rollup_dir_is_a_client_error(spark):
    server = start_sql_endpoint(
        spark, SF_DIR, logs_dir="/nonexistent", rollup_dir=None
    )
    host, port = server.server_address
    try:
        urllib.request.urlopen(
            f"http://{host}:{port}/panels/q5_timeseries?source=rollup"
        )
    except urllib.error.HTTPError as e:
        assert e.code == 400 and "no rollup configured" in json.loads(e.read())["error"]
    else:
        raise AssertionError("expected 400")
    finally:
        server.shutdown()


def test_adhoc_filter_panel_matches_direct(logs_endpoint, spark):
    """Grafana's ad-hoc filter macro (reference logs.json:106,164) driven
    end-to-end over HTTP: ?filter=col=value compiles through
    plans.facade.adhoc_filter and must equal the direct DataFrame result."""
    import urllib.parse

    from demo_otel_parquet_antalya_spark.plans import facade

    base, wh = logs_endpoint
    logs = spark.read.parquet(wh)
    svc = logs.select("service_name").first()[0]

    q = urllib.parse.urlencode(
        {"interval": 30, "filter": f"service_name={svc}"}
    )
    with urllib.request.urlopen(f"{base}/panels/q5_timeseries?{q}") as r:
        got = json.loads(r.read())
    want = facade.q5_timeseries(
        facade.adhoc_filter(logs, [("service_name", "=", svc)]),
        interval_seconds=30,
    ).collect()
    assert got["row_count"] == len(want) > 0
    assert sorted(r_[2] for r_ in got["rows"]) == sorted(r_["value"] for r_ in want)
    assert all(r_[1] == svc for r_ in got["rows"])

    # negative + LIKE operators, multiple filters compose conjunctively
    q = urllib.parse.urlencode(
        [("filter", f"service_name!={svc}"), ("filter", "severity_text=~%")]
    )
    with urllib.request.urlopen(f"{base}/panels/q3_severity_counts?{q}") as r:
        got = json.loads(r.read())
    want_n = (
        facade.q3_severity_counts(
            facade.adhoc_filter(
                logs,
                [("service_name", "!=", svc), ("severity_text", "=~", "%")],
            )
        ).count()
    )
    assert got["row_count"] == want_n

    # malformed filter and unknown column both answer 4xx, not 500
    try:
        urllib.request.urlopen(f"{base}/panels/q3_severity_counts?filter=;;;")
    except urllib.error.HTTPError as e:
        assert e.code == 400 and "ad-hoc" in json.loads(e.read())["error"]
    else:
        raise AssertionError("expected 400")
    try:
        urllib.request.urlopen(
            f"{base}/panels/q3_severity_counts?filter=no_such_col=x"
        )
    except urllib.error.HTTPError as e:
        assert e.code == 400
    else:
        raise AssertionError("expected 400")


def test_runaway_query_cancelled_while_panel_stays_interactive(logs_endpoint):
    """VERDICT r6 item 1: the row cap bounds collect size, not work — a
    deliberately huge query must be CANCELLED at its deadline (job group
    interrupt -> 408) while a concurrent dashboard panel, with 2 of 32
    cores occupied by the runaway's tasks, stays interactive."""
    import threading
    import time

    base, _wh = logs_endpoint
    # warm the panel path once so the concurrent read measures steady state
    urllib.request.urlopen(f"{base}/panels/q5_timeseries?interval=30").read()

    # 1e11 increments over 2 explicit slices: >>deadline, but only 2 tasks,
    # and Spark's range codegen checks task-kill per batch -> prompt cancel
    slow_sql = "SELECT COUNT(*) AS n FROM range(0, 100000000000, 1, 2)"
    result = {}

    def run_slow():
        t0 = time.monotonic()
        try:
            _post(base, "/query", {"sql": slow_sql})
            result["code"] = 200
        except urllib.error.HTTPError as e:
            result["code"] = e.code
            result["error"] = json.loads(e.read())["error"]
        result["elapsed"] = time.monotonic() - t0

    t = threading.Thread(target=run_slow)
    t.start()
    time.sleep(0.5)  # the runaway is now running on the cluster
    t0 = time.monotonic()
    with urllib.request.urlopen(f"{base}/panels/q5_timeseries?interval=30") as r:
        panel = json.loads(r.read())
    panel_elapsed = time.monotonic() - t0
    t.join(timeout=60)
    assert not t.is_alive(), "runaway request never returned"
    assert result["code"] == 408, result
    assert "cancelled" in result["error"]
    # cancelled at ~the 2.5s deadline, not run to completion (minutes)
    assert 2.0 <= result["elapsed"] < 30.0, result["elapsed"]
    assert panel["row_count"] > 0
    assert panel_elapsed < 2.0, f"panel took {panel_elapsed:.2f}s under contention"


def test_serving_fair_conf_writes_pool_allocation(tmp_path):
    from demo_otel_parquet_antalya_spark.serving import serving_fair_conf

    conf = serving_fair_conf(str(tmp_path))
    assert conf["spark.scheduler.mode"] == "FAIR"
    body = open(conf["spark.scheduler.allocation.file"], encoding="utf-8").read()
    assert '<pool name="serving">' in body and "FAIR" in body


def test_post_door_bounds_input(endpoint):
    """The /query POST door gets the receiver's door checks (VERDICT r9
    "what's wrong" #1 — the two HTTP surfaces had diverged): body cap 413,
    claimed-oversize 413 before any read, malformed Content-Length 400,
    unknown encoding 415, chunked 411, gzip accepted under the same output
    cap — every error answered before a bounded drain so a mid-send client
    reads the status instead of ECONNRESET."""
    import gzip

    from demo_otel_parquet_antalya_spark.serving import MAX_SQL_BODY_BYTES

    def post_raw(body, headers):
        req = urllib.request.Request(
            endpoint + "/query", data=body,
            headers={"Content-Type": "application/json", **headers},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=30) as resp:
                return resp.status
        except urllib.error.HTTPError as e:
            return e.code

    good = json.dumps({"sql": "SELECT 1 AS one"}).encode()
    assert post_raw(good, {}) == 200
    # gzip body accepted and decoded (same decompressobj-under-cap path
    # as the receiver)
    assert post_raw(gzip.compress(good), {"Content-Encoding": "gzip"}) == 200
    # gzip bomb: tiny request, over-cap decompressed size -> 413
    bomb = gzip.compress(b"\0" * (MAX_SQL_BODY_BYTES + 1))
    assert len(bomb) < MAX_SQL_BODY_BYTES
    assert post_raw(bomb, {"Content-Encoding": "gzip"}) == 413
    # unknown encoding -> 415
    assert post_raw(good, {"Content-Encoding": "br"}) == 415
    # client-claimed oversize -> 413 BEFORE any read (never materialized)
    assert post_raw(good, {"Content-Length": str(MAX_SQL_BODY_BYTES + 1)}) == 413
    # a REAL oversized body still gets a readable 413 (bounded drain)
    assert post_raw(b"x" * (MAX_SQL_BODY_BYTES + 2), {}) == 413
    # malformed Content-Length -> 400, not an uncaught ValueError
    assert post_raw(good, {"Content-Length": "banana"}) == 400
    # chunked transfer -> 411, not a misdiagnosed "empty statement"
    assert post_raw(good, {"Transfer-Encoding": "chunked"}) == 411


def test_post_door_short_body_and_stall(spark):
    """A client that closes early (body shorter than Content-Length)
    answers 400, and one that stalls mid-body past the socket timeout
    answers a best-effort 408 with the thread freed — previously the
    short body was processed as-is and the stall pinned the request
    thread for the full default timeout (serving had no socket timeout
    at all)."""
    import socket

    server = start_sql_endpoint(spark, SF_DIR, row_cap=10)
    # the stall test must not wait the production 30 s socket timeout
    server.RequestHandlerClass.timeout = 0.5
    host, port = server.server_address
    try:
        # short body: declared 100 bytes, send 10, half-close -> 400
        s = socket.create_connection((host, port), timeout=10)
        s.sendall(
            b"POST /query HTTP/1.1\r\nHost: x\r\n"
            b"Content-Length: 100\r\n\r\n0123456789"
        )
        s.shutdown(socket.SHUT_WR)
        status = s.recv(4096).split(b"\r\n", 1)[0]
        assert b" 400 " in status, status
        s.close()
        # stall: declared 100 bytes, send 3, keep the socket open -> 408
        s = socket.create_connection((host, port), timeout=10)
        s.sendall(
            b"POST /query HTTP/1.1\r\nHost: x\r\nContent-Length: 100\r\n\r\nabc"
        )
        status = s.recv(4096).split(b"\r\n", 1)[0]
        assert b" 408 " in status, status
        s.close()
    finally:
        server.shutdown()


def test_unknown_function_names_fail_closed(endpoint, spark):
    """r10 (VERDICT r9 #3): the parse layer's function check is an
    ALLOWLIST against the session catalog — an unknown name (a typo, or a
    future Spark escape hatch this gate has never heard of) is denied by
    the gate itself, never passed through to resolution. Scalar, TVF, and
    LATERAL VIEW generator positions all route through the same check;
    qualification cannot launder a denied name; a UDF registered after
    endpoint startup is picked up live (only positive lookups are
    memoized)."""
    code, err = _post_err(
        endpoint, "/query", {"sql": "SELECT definitely_not_a_function(1) AS x"}
    )
    assert code == 400 and "unknown function" in err["error"]
    code, err = _post_err(endpoint, "/query", {"sql": "SELECT * FROM no_such_tvf(1)"})
    assert code == 400 and "unknown function" in err["error"]
    code, err = _post_err(
        endpoint,
        "/query",
        {
            "sql": "SELECT v FROM (SELECT array(1) AS a) t "
            "LATERAL VIEW no_such_gen(a) e AS v"
        },
    )
    assert code == 400 and "unknown function" in err["error"]
    # the denied family stays denied under any qualification
    code, err = _post_err(
        endpoint,
        "/query",
        {"sql": "SELECT system.builtin.reflect('java.lang.String','valueOf',1) AS x"},
    )
    assert code == 400 and "read-only" in err["error"]
    # a UDF registered AFTER startup is allowed on first use
    spark.udf.register("r10_live_registered_udf", lambda x: x + 1, "int")
    ok = _post(endpoint, "/query", {"sql": "SELECT r10_live_registered_udf(1) AS x"})
    assert ok["rows"] == [[2]]


def test_relation_gate_fails_closed_on_any_unresolved_multipart(endpoint):
    """ADVICE r9 (both relation items): the file-path gate no longer
    enumerates format names — ANY multi-part relation that does not
    resolve as a real catalog table is denied, which closes the xml
    format the old list omitted, fully-qualified datasource class names,
    and the comma-in-backquoted-name arity trick that used to skip the
    two-part check (toJSON stringifies Seqs, so `a,b` splits into two
    pseudo-parts — the inflated name simply fails tableExists)."""
    for sql in (
        "SELECT * FROM xml.`somefile`",
        "SELECT * FROM `org.apache.spark.sql.json`.`somefile`",
        "SELECT * FROM text.`a,b`",
        "SELECT * FROM nosuchdb.nosuchtable",
    ):
        code, err = _post_err(endpoint, "/query", {"sql": sql})
        assert code == 400 and "file-path" in err["error"], sql
    # single-part relations are untouched: registered views work, and an
    # unknown one still surfaces as the analyzer's TABLE_OR_VIEW_NOT_FOUND
    ok = _post(endpoint, "/query", {"sql": "SELECT COUNT(*) AS n FROM nation"})
    assert ok["rows"] == [[25]]
    code, err = _post_err(endpoint, "/query", {"sql": "SELECT * FROM no_such_view"})
    assert code == 400 and "file-path" not in err["error"]


def test_q3_served_from_rollup_matches_raw_over_http(logs_endpoint):
    """?source=rollup routes the severity-counts panel — the worst-growing
    measured panel (8x at 100x data, SCALE.md) — through the maintained
    (bucket, service, severity) snapshot, summing over buckets: values
    must equal the raw full-scan panel, with and without a
    maintained-dimension ad-hoc filter (r10, VERDICT r9 #2)."""
    base, _wh = logs_endpoint
    # warm both routes once (cold first use can brush the fixture's
    # deliberately-short 2.5 s cancellation deadline on a loaded box)
    for path in ("/panels/q3_severity_counts",
                 "/panels/q3_severity_counts?source=rollup"):
        try:
            urllib.request.urlopen(base + path).read()
        except urllib.error.HTTPError:
            pass
    with urllib.request.urlopen(
        f"{base}/panels/q3_severity_counts?source=raw"
    ) as r:
        raw = json.loads(r.read())
    with urllib.request.urlopen(
        f"{base}/panels/q3_severity_counts?source=rollup"
    ) as r:
        routed = json.loads(r.read())
    assert routed["columns"] == raw["columns"] == [
        "service_name", "severity_text", "count",
    ]
    assert routed["row_count"] == raw["row_count"] > 0
    assert sorted(map(tuple, routed["rows"])) == sorted(map(tuple, raw["rows"]))
    # a maintained-dimension filter applies to the snapshot exactly
    svc = raw["rows"][0][0]
    with urllib.request.urlopen(
        f"{base}/panels/q3_severity_counts?source=raw&filter=service_name={svc}"
    ) as r:
        raw_f = json.loads(r.read())
    with urllib.request.urlopen(
        f"{base}/panels/q3_severity_counts?source=rollup&filter=service_name={svc}"
    ) as r:
        routed_f = json.loads(r.read())
    assert routed_f["row_count"] == raw_f["row_count"] > 0
    assert sorted(map(tuple, routed_f["rows"])) == sorted(map(tuple, raw_f["rows"]))
    # a non-maintained column filter is a 400, never silently wrong
    try:
        urllib.request.urlopen(
            f"{base}/panels/q3_severity_counts?source=rollup&filter=body=~%25x%25"
        )
    except urllib.error.HTTPError as e:
        assert e.code == 400 and "dimensions" in json.loads(e.read())["error"]
    else:
        raise AssertionError("expected 400")


def test_q6_pruned_matches_raw_over_http(logs_endpoint, spark):
    """?source=pruned on the log panel serves 'oldest N' from the OLDEST
    hour directories (tail pruning mirrored from q2, r10) — values must
    equal the full-scan Q6 with no window, with a $timeFilter window, and
    with an ad-hoc filter (both apply before the widening count)."""
    base, wh = logs_endpoint
    for path in ("/panels/q6_log_panel?limit=5",
                 "/panels/q6_log_panel?limit=5&source=pruned"):
        try:
            urllib.request.urlopen(base + path).read()
        except urllib.error.HTTPError:
            pass
    with urllib.request.urlopen(
        f"{base}/panels/q6_log_panel?limit=40&source=raw"
    ) as r:
        raw = json.loads(r.read())
    with urllib.request.urlopen(
        f"{base}/panels/q6_log_panel?limit=40&source=pruned"
    ) as r:
        pruned = json.loads(r.read())
    assert pruned["row_count"] == raw["row_count"] == 40
    assert sorted(map(tuple, pruned["rows"])) == sorted(map(tuple, raw["rows"]))
    # a $timeFilter window restricts the hour listing AND the row bounds
    import datetime
    from urllib.parse import urlencode

    lo = spark.read.parquet(wh).selectExpr("min(timestamp) AS m").first()[0]
    q = urlencode({
        "limit": 25,
        "start": lo.isoformat(sep=" "),
        "end": (lo + datetime.timedelta(minutes=5)).isoformat(sep=" "),
    })
    with urllib.request.urlopen(
        f"{base}/panels/q6_log_panel?{q}&source=raw"
    ) as r:
        raw_w = json.loads(r.read())
    with urllib.request.urlopen(
        f"{base}/panels/q6_log_panel?{q}&source=pruned"
    ) as r:
        pruned_w = json.loads(r.read())
    assert pruned_w["row_count"] == raw_w["row_count"] > 0
    assert sorted(map(tuple, pruned_w["rows"])) == sorted(map(tuple, raw_w["rows"]))
    # ad-hoc filter applies before the widening count
    svc = raw["rows"][0][2]
    fq = f"limit=15&filter=service_name={svc}"
    with urllib.request.urlopen(
        f"{base}/panels/q6_log_panel?{fq}&source=raw"
    ) as r:
        want = json.loads(r.read())
    with urllib.request.urlopen(
        f"{base}/panels/q6_log_panel?{fq}&source=pruned"
    ) as r:
        filt = json.loads(r.read())
    assert sorted(map(tuple, filt["rows"])) == sorted(map(tuple, want["rows"]))


def test_q6_pruned_widens_until_enough_rows(spark, tmp_path):
    """A limit larger than the oldest hour's row count forces the widening
    loop across hour partitions; values must equal full-scan Q6 as
    multisets."""
    from demo_otel_parquet_antalya_spark.plans import facade
    from demo_otel_parquet_antalya_spark.sources.generator import generate_files
    from demo_otel_parquet_antalya_spark.streaming.ingest import run_ingest_once

    landing, wh = str(tmp_path / "l"), str(tmp_path / "wh")
    generate_files(landing, n_files=2, records_per_file=30)
    generate_files(
        str(tmp_path / "l2"), n_files=2, records_per_file=30,
        base_ns=1_700_000_000_000_000_000 + 2 * 3600 * 1_000_000_000,
    )
    import shutil

    for f in (tmp_path / "l2").iterdir():
        shutil.move(str(f), landing + "/x_" + f.name)
    run_ingest_once(spark, landing, wh, str(tmp_path / "c"))
    logs = spark.read.parquet(wh)
    assert len(facade.list_partition_hours(spark, wh)) >= 2
    want = sorted(tuple(r) for r in facade.q6_log_panel(logs, limit=90).collect())
    got = sorted(
        tuple(r) for r in facade.q6_log_panel_pruned(spark, wh, limit=90).collect()
    )
    assert got == want and len(got) == 90


def test_q6_pruned_handles_tz_aware_window(spark, tmp_path):
    """A $timeFilter window expressed with a UTC-offset timezone must
    prune by the SESSION-zone wall clock the partition directories were
    derived in — flooring the foreign wall-clock dropped in-window hour
    directories and returned silently incomplete results (code-review
    r10, confirmed live with a +02:00 window over a UTC warehouse)."""
    import datetime

    from demo_otel_parquet_antalya_spark.plans import facade
    from demo_otel_parquet_antalya_spark.sources.generator import generate_files
    from demo_otel_parquet_antalya_spark.streaming.ingest import run_ingest_once

    landing, wh = str(tmp_path / "l"), str(tmp_path / "wh")
    generate_files(landing, n_files=2, records_per_file=30)
    generate_files(
        str(tmp_path / "l2"), n_files=2, records_per_file=30,
        base_ns=1_700_000_000_000_000_000 + 2 * 3600 * 1_000_000_000,
    )
    import shutil

    for f in (tmp_path / "l2").iterdir():
        shutil.move(str(f), landing + "/x_" + f.name)
    run_ingest_once(spark, landing, wh, str(tmp_path / "c"))
    logs = spark.read.parquet(wh)
    lo, hi = logs.selectExpr("min(timestamp)", "max(timestamp)").first()
    tz = datetime.timezone(datetime.timedelta(hours=2))
    # the whole range, expressed as +02:00 instants
    start = lo.replace(tzinfo=datetime.timezone.utc).astimezone(tz)
    end = hi.replace(tzinfo=datetime.timezone.utc).astimezone(tz)
    want = sorted(
        tuple(r)
        for r in facade.q6_log_panel(logs, start, end, limit=120).collect()
    )
    got = sorted(
        tuple(r)
        for r in facade.q6_log_panel_pruned(
            spark, wh, start.isoformat(), end.isoformat(), limit=120
        ).collect()
    )
    assert got == want and len(got) == 120


def test_mid_payload_timeout_does_not_corrupt_response(spark):
    """A reader slow enough to trip the socket timeout mid-200-payload
    must get a clean close of the truncated stream — NOT a second
    'HTTP/1.1 400' response interleaved into the JSON body (code-review
    r10) — and the endpoint must keep serving new connections."""
    import socket
    import time

    server = start_sql_endpoint(spark, SF_DIR, row_cap=10_000)
    server.RequestHandlerClass.timeout = 0.5
    host, port = server.server_address
    try:
        # ~50 MB payload so the response write outlives every socket buffer
        body = json.dumps(
            {"sql": "SELECT repeat('x', 100000) AS s FROM range(500)"}
        ).encode()
        s = socket.create_connection((host, port), timeout=30)
        s.sendall(
            b"POST /query HTTP/1.1\r\nHost: x\r\nContent-Type: application/json\r\n"
            + f"Content-Length: {len(body)}\r\n\r\n".encode()
            + body
        )
        first = s.recv(1024)  # the 200 status line arrives...
        assert b" 200 " in first.split(b"\r\n", 1)[0]
        time.sleep(2.0)  # ...then stall past the 0.5 s socket timeout
        tail = b""
        try:
            while True:
                got = s.recv(1 << 20)
                if not got:
                    break
                tail += got
                if len(tail) > 200 * (1 << 20):
                    break
        except OSError:
            pass  # RST from the close is acceptable; corruption is not
        assert b"HTTP/1.1 400" not in tail  # no interleaved second response
        s.close()
        # the endpoint still serves new connections afterwards
        ok = _post(f"http://{host}:{port}", "/query", {"sql": "SELECT 1 AS one"})
        assert ok["rows"] == [[1]]
    finally:
        server.shutdown()


def test_pruned_routes_include_null_timestamp_partitions(spark, tmp_path):
    """Rows with NULL timestamps land under __HIVE_DEFAULT_PARTITION__
    hour directories, which the hour listing used to drop entirely — the
    windowless pruned panels silently diverged from their raw scans
    (NULLS FIRST in the ascending log panel, NULLS LAST in the descending
    recent-logs panel). Null dirs now join every q6 probe and q2's
    exhausted final probe; a $timeFilter window excludes them on both
    routes (code-review r10, pass 2)."""
    from demo_otel_parquet_antalya_spark.plans import facade
    from demo_otel_parquet_antalya_spark.sources.generator import generate_files
    from demo_otel_parquet_antalya_spark.sources.otlp import ingest_otlp_json
    from demo_otel_parquet_antalya_spark.sources.parquet_sink import write_logs
    from pyspark.sql import functions as F

    d = str(tmp_path / "otlp")
    generate_files(d, n_files=2, records_per_file=20)
    logs = ingest_otlp_json(spark, d)
    # 3 null-timestamp rows alongside the 40 timestamped ones
    nulled = logs.limit(3).withColumn(
        "timestamp", F.lit(None).cast("timestamp")
    )
    wh = str(tmp_path / "wh")
    write_logs(logs.unionByName(nulled), wh)
    assert facade.null_hour_dirs(spark, wh), "null rows must land in default dirs"
    full = spark.read.parquet(wh)
    total = full.count()

    def norm(rows):  # null-safe multiset compare
        return sorted(
            (tuple((x is None, str(x)) for x in r) for r in rows)
        )

    # q6 windowless: nulls sort FIRST — pruned == raw over the full set
    want6 = norm(facade.q6_log_panel(full, limit=total).collect())
    got6 = norm(facade.q6_log_panel_pruned(spark, wh, limit=total).collect())
    assert got6 == want6 and len(got6) == total
    # q2: nulls sort LAST — pruned == raw over the full set
    want2 = norm(facade.q2_recent_logs(full, total).collect())
    got2 = norm(facade.q2_recent_logs_pruned(spark, wh, total).collect())
    assert got2 == want2 and len(got2) == total
    # a window excludes nulls on BOTH routes (closed-range predicates)
    lo, hi = full.selectExpr("min(timestamp)", "max(timestamp)").first()
    wantw = sorted(
        tuple(r)
        for r in facade.q6_log_panel(full, lo, hi, limit=total).collect()
    )
    gotw = sorted(
        tuple(r)
        for r in facade.q6_log_panel_pruned(
            spark, wh, lo, hi, limit=total
        ).collect()
    )
    assert gotw == wantw and len(gotw) == total - 3
    # a window that excludes every partition hour returns empty from the
    # listing alone (schema intact), never an O(history) full fallback
    import datetime

    old = lo - datetime.timedelta(days=400)
    empty = facade.q6_log_panel_pruned(
        spark, wh, old, old + datetime.timedelta(hours=1), limit=10
    )
    assert empty.count() == 0
    assert empty.columns == [
        "log_time", "message", "service_name", "scope_name", "severity_text",
    ]


def _two_hour_warehouse(spark, tmp_path) -> str:
    """60 rows in each of two hours two hours apart, in one ingest."""
    import shutil

    from demo_otel_parquet_antalya_spark.sources.generator import generate_files
    from demo_otel_parquet_antalya_spark.streaming.ingest import run_ingest_once

    landing, wh = str(tmp_path / "l"), str(tmp_path / "wh")
    generate_files(landing, n_files=2, records_per_file=30)
    generate_files(
        str(tmp_path / "l2"), n_files=2, records_per_file=30,
        base_ns=1_700_000_000_000_000_000 + 2 * 3600 * 1_000_000_000,
    )
    for f in (tmp_path / "l2").iterdir():
        shutil.move(str(f), landing + "/x_" + f.name)
    run_ingest_once(spark, landing, wh, str(tmp_path / "c"))
    return wh


def _jobs_run(spark, fn):
    """``(fn(), the number of Spark jobs it ran)``, counted by job group."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker reads a store the listener bus feeds
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _newest_job_id(spark) -> int:
    """The id of the newest Spark job. Ids count up in submission order,
    so two readings bracket the jobs run between them; the status store
    lists jobs newest first."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore().jobsList(None).head().jobId()


def test_pruned_panels_run_one_job_per_probe(spark, tmp_path):
    """A pruned panel answer, payload included, costs one Spark job per
    widening probe and nothing more: the probe's rows stay in the JVM as
    a local relation, and the read declares the warehouse schema instead
    of inferring it. (Before, one q6 request ran five jobs: inference,
    the take, and three growing scans of the rows rebuilt from Python.)"""
    import datetime

    from demo_otel_parquet_antalya_spark.plans import facade
    from demo_otel_parquet_antalya_spark.serving import _df_payload

    wh = _two_hour_warehouse(spark, tmp_path)
    assert len(facade.list_partition_hours(spark, wh)) == 2
    logs = spark.read.parquet(wh)
    cases = {
        # the first probe holds `limit` rows: one job
        (10, "q6"): (1, lambda n: facade.q6_log_panel_pruned(spark, wh, limit=n),
                     lambda n: facade.q6_log_panel(logs, limit=n)),
        (10, "q2"): (1, lambda n: facade.q2_recent_logs_pruned(spark, wh, n),
                     lambda n: facade.q2_recent_logs(logs, n)),
        # the boundary hour holds 60 of 90 rows: a second, widened probe
        (90, "q6"): (2, lambda n: facade.q6_log_panel_pruned(spark, wh, limit=n),
                     lambda n: facade.q6_log_panel(logs, limit=n)),
        (90, "q2"): (2, lambda n: facade.q2_recent_logs_pruned(spark, wh, n),
                     lambda n: facade.q2_recent_logs(logs, n)),
    }
    for (limit, panel), (want_jobs, pruned, raw) in cases.items():
        got, jobs = _jobs_run(spark, lambda: _df_payload(pruned(limit), 5000))
        want = _df_payload(raw(limit), 5000)
        assert jobs == want_jobs, (panel, limit, jobs)
        assert got["columns"] == want["columns"]
        assert got["row_count"] == want["row_count"] == limit
        assert sorted(map(tuple, got["rows"])) == sorted(map(tuple, want["rows"]))
    # a window before every partition hour: the listing proves it empty,
    # so no job runs
    old = datetime.datetime(2020, 1, 1)
    empty, jobs = _jobs_run(
        spark,
        lambda: _df_payload(
            facade.q6_log_panel_pruned(
                spark, wh, old, old + datetime.timedelta(hours=1), limit=10
            ),
            5000,
        ),
    )
    assert jobs == 0 and empty["row_count"] == 0
    assert empty["columns"] == [
        "log_time", "message", "service_name", "scope_name", "severity_text",
    ]


def test_raw_panel_route_skips_schema_inference(spark, tmp_path):
    """The raw panel route reads the warehouse under its declared schema:
    a windowed q5 runs its own two jobs and no inference job (three
    before). An ad-hoc filter on an unknown column still answers 400,
    on the raw and the pruned route alike."""
    import datetime
    from urllib.parse import urlencode

    wh = _two_hour_warehouse(spark, tmp_path)
    logs = spark.read.parquet(wh)
    lo = logs.selectExpr("min(timestamp)").first()[0]
    hi = lo + datetime.timedelta(minutes=30)
    window_rows = logs.filter(
        (logs.timestamp >= lo) & (logs.timestamp <= hi)
    ).count()
    server = start_sql_endpoint(spark, SF_DIR, row_cap=5000, logs_dir=wh)
    host, port = server.server_address
    base = f"http://{host}:{port}"
    window = urlencode({
        "interval": 30, "start": lo.isoformat(sep=" "),
        "end": hi.isoformat(sep=" "),
    })
    try:
        before = _newest_job_id(spark)
        with urllib.request.urlopen(
            f"{base}/panels/q5_timeseries?{window}&source=raw"
        ) as r:
            got = json.loads(r.read())
        assert _newest_job_id(spark) - before == 2
        assert got["source"] == "raw"
        assert sum(r_[2] for r_ in got["rows"]) == window_rows > 0
        for bad in (
            f"/panels/q5_timeseries?{window}&source=raw&filter=no_such_col=x",
            "/panels/q6_log_panel?limit=5&source=pruned&filter=no_such_col=x",
        ):
            try:
                urllib.request.urlopen(base + bad)
            except urllib.error.HTTPError as e:
                assert e.code == 400
                assert "no_such_col" in json.loads(e.read())["error"]
            else:
                raise AssertionError(f"expected 400 from {bad}")
    finally:
        server.shutdown()


def _null_timestamp_warehouse(spark, tmp_path) -> str:
    """40 timestamped rows and 3 NULL-timestamp rows, the latter in Hive
    default partition directories."""
    from pyspark.sql import functions as F

    from demo_otel_parquet_antalya_spark.sources.generator import generate_files
    from demo_otel_parquet_antalya_spark.sources.otlp import ingest_otlp_json
    from demo_otel_parquet_antalya_spark.sources.parquet_sink import write_logs

    d = str(tmp_path / "otlp")
    generate_files(d, n_files=2, records_per_file=20)
    logs = ingest_otlp_json(spark, d)
    nulled = logs.limit(3).withColumn("timestamp", F.lit(None).cast("timestamp"))
    wh = str(tmp_path / "wh")
    write_logs(logs.unionByName(nulled), wh)
    return wh


def _compacted_warehouse(spark, tmp_path) -> str:
    """An ingested warehouse, compacted in place."""
    from demo_otel_parquet_antalya_spark.schema import PARTITION_COLUMNS
    from demo_otel_parquet_antalya_spark.sources.compaction import compact
    from demo_otel_parquet_antalya_spark.sources.generator import generate_files
    from demo_otel_parquet_antalya_spark.streaming.ingest import run_ingest_once

    landing, wh = str(tmp_path / "l"), str(tmp_path / "wh")
    generate_files(landing, n_files=6, records_per_file=80)
    run_ingest_once(spark, landing, wh, str(tmp_path / "c"))
    assert compact(
        spark, wh, list(PARTITION_COLUMNS), target_rows_per_file=10_000,
        min_excess_files=1, finalize_streaming=True,
    ) > 0
    return wh


@pytest.mark.parametrize("layout", ["ingested", "compacted", "null_timestamps"])
def test_declared_warehouse_schema_matches_inference(spark, tmp_path, layout):
    """WAREHOUSE_SCHEMA, which the panel reads declare instead of
    inferring, names the columns inference finds, in its order and with
    its types, on every layout the package writes."""
    from demo_otel_parquet_antalya_spark.schema import WAREHOUSE_SCHEMA

    build = {
        "ingested": _two_hour_warehouse,
        "compacted": _compacted_warehouse,
        "null_timestamps": _null_timestamp_warehouse,
    }[layout]
    wh = build(spark, tmp_path)
    inferred = spark.read.parquet(wh).schema
    assert [(f.name, f.dataType) for f in WAREHOUSE_SCHEMA] == [
        (f.name, f.dataType) for f in inferred
    ]
    assert all(f.nullable for f in WAREHOUSE_SCHEMA)
    # and a declared read sees the same rows
    declared = spark.read.schema(WAREHOUSE_SCHEMA).parquet(wh)
    assert sorted(map(str, declared.collect())) == sorted(
        map(str, spark.read.parquet(wh).collect())
    )


def test_flat_logs_directory_keeps_inferred_schema(spark, tmp_path):
    """A logs directory this package did not partition keeps schema
    inference, so a windowed panel over it answers every row on the raw
    read and on the pruned route's fallback alike. A declared schema
    would read its missing year/month/day/hour as NULL, and the window's
    partition predicates would then drop every row."""
    from demo_otel_parquet_antalya_spark.plans import facade
    from demo_otel_parquet_antalya_spark.sources.generator import generate_files
    from demo_otel_parquet_antalya_spark.sources.otlp import ingest_otlp_json
    from demo_otel_parquet_antalya_spark.sources.parquet_sink import read_logs

    d, flat = str(tmp_path / "otlp"), str(tmp_path / "flat")
    generate_files(d, n_files=2, records_per_file=20)
    ingest_otlp_json(spark, d).write.parquet(flat)
    logs = read_logs(spark, flat)
    assert logs.schema == spark.read.parquet(flat).schema
    lo, hi = logs.selectExpr("min(timestamp)", "max(timestamp)").first()
    raw = facade.q6_log_panel(logs, lo, hi, limit=1000).collect()
    pruned = facade.q6_log_panel_pruned(spark, flat, lo, hi, limit=1000).collect()
    assert len(raw) == 40
    assert sorted(map(str, raw)) == sorted(map(str, pruned))


def test_gate_catalog_lookups_are_bounded(endpoint, spark):
    """The parse gate runs BEFORE the request deadline, so its catalog
    lookups must be bounded: the walk early-exits on the first reason
    (a statement repeating an unknown name thousands of times costs ONE
    functionExists miss, not one per occurrence), and multi-part
    relations are memoized WITHIN a statement only — a cross-statement
    memo would let a DROP turn a once-legal statement into a
    runSQLOnFiles host-file read, since failed catalog resolution is
    exactly what triggers that fallback (code-review r10, passes 2+3)."""
    from demo_otel_parquet_antalya_spark.serving import _reject_reason

    calls = {"fn": 0, "tbl": 0}
    catalog = spark.catalog
    real_fn, real_tbl = catalog.functionExists, catalog.tableExists

    def count_fn(name):
        calls["fn"] += 1
        return real_fn(name)

    def count_tbl(name):
        calls["tbl"] += 1
        return real_tbl(name)

    catalog.functionExists, catalog.tableExists = count_fn, count_tbl
    try:
        many = ", ".join(f"nope_fn_{i}(1)" for i in range(200))
        assert _reject_reason(f"SELECT {many}", spark) is not None
        assert calls["fn"] == 1, calls  # early exit after the first miss
        # a repeated relation costs ONE lookup within a statement...
        spark.sql("CREATE DATABASE IF NOT EXISTS memo_db")
        spark.createDataFrame([(1,)], "a long").write.mode(
            "overwrite"
        ).saveAsTable("memo_db.t")
        calls["tbl"] = 0
        sql = "SELECT * FROM memo_db.t JOIN memo_db.t x ON 1=1"
        assert _reject_reason(sql, spark) is None
        assert calls["tbl"] == 1, calls
        # ...but is re-checked on the NEXT statement, so a DROP cannot
        # leave a stale allow behind (the stale allow would be a host-
        # file read, not an error — runSQLOnFiles fires on catalog miss)
        assert _reject_reason(sql, spark) is None
        assert calls["tbl"] == 2, calls
        spark.sql("DROP TABLE memo_db.t")
        reason = _reject_reason(sql, spark)
        assert reason is not None and "file-path" in reason
    finally:
        catalog.functionExists, catalog.tableExists = real_fn, real_tbl
        spark.sql("DROP DATABASE IF EXISTS memo_db CASCADE")


def test_sql_on_files_disabled_at_the_mechanism(spark):
    """The gate's relation check mirrors Spark's resolution order but has
    an inherent gate-then-execute race (a DROP between tableExists and
    spark.sql re-opens the file fallback). start_sql_endpoint therefore
    closes the CLASS: runSQLOnFiles=false on the hosting session,
    re-asserted per /query, so a catalog miss is an error again, never a
    host-file read (code-review r10, pass 4). Opt-out honored."""
    prev = spark.conf.get("spark.sql.runSQLOnFiles", "true")
    server = start_sql_endpoint(spark, SF_DIR, row_cap=10)
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        assert spark.conf.get("spark.sql.runSQLOnFiles") == "false"
        # an out-of-band flip is re-asserted by the next /query
        spark.conf.set("spark.sql.runSQLOnFiles", "true")
        ok = _post(base, "/query", {"sql": "SELECT 1 AS one"})
        assert ok["rows"] == [[1]]
        assert spark.conf.get("spark.sql.runSQLOnFiles") == "false"
        # mechanism check: even WITHOUT the gate, the session now errors
        # on a file-path relation instead of reading the host file
        import pytest as _pytest

        with _pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND"):
            spark.sql("SELECT * FROM text.`/etc/hostname`").collect()
    finally:
        server.shutdown()
        # restore the PRE-TEST value — forcing either constant here would
        # leak this test's choice into the shared session fixture
        spark.conf.set("spark.sql.runSQLOnFiles", prev)
    # explicit opt-out leaves the conf alone
    spark.conf.set("spark.sql.runSQLOnFiles", "true")
    server = start_sql_endpoint(spark, SF_DIR, row_cap=10, disable_sql_on_files=False)
    try:
        assert spark.conf.get("spark.sql.runSQLOnFiles") == "true"
    finally:
        server.shutdown()
        spark.conf.set("spark.sql.runSQLOnFiles", prev)


def test_panels_auto_route_to_production_paths(logs_endpoint):
    """r11 (VERDICT r10 #3): PLAIN panel requests — what a provisioned
    Grafana actually sends — are served by the flat production route by
    default: q5/q3 from the rollup, q2/q6 pruned; values equal the forced
    raw scan, the payload's source field names the route, and
    ?source=raw is the escape hatch."""
    base, _wh = logs_endpoint
    for name, want_source, qs in (
        ("q5_timeseries", "rollup", ""),
        ("q3_severity_counts", "rollup", ""),
        ("q2_recent_logs", "pruned", "limit=10"),
        ("q6_log_panel", "pruned", "limit=40"),
    ):
        sep = "?" if not qs else f"?{qs}&"
        plain = f"{base}/panels/{name}" + (f"?{qs}" if qs else "")
        # warm: cold first use can brush the fixture's short 2.5 s deadline
        for url in (plain, f"{base}/panels/{name}{sep}source=raw"):
            try:
                urllib.request.urlopen(url).read()
            except urllib.error.HTTPError:
                pass
        with urllib.request.urlopen(plain) as r:
            auto = json.loads(r.read())
        with urllib.request.urlopen(
            f"{base}/panels/{name}{sep}source=raw"
        ) as r:
            raw = json.loads(r.read())
        assert auto["source"] == want_source, (name, auto["source"])
        assert raw["source"] == "raw"
        assert auto["row_count"] == raw["row_count"] > 0
        assert sorted(map(tuple, auto["rows"])) == sorted(map(tuple, raw["rows"]))
    # q1/q4 have no production route: the default IS the raw scan
    with urllib.request.urlopen(f"{base}/panels/q1_projection") as r:
        assert json.loads(r.read())["source"] == "raw"


def test_panels_auto_route_falls_back_to_raw_when_incompatible(logs_endpoint):
    """Auto-routing must change COST, never answers: a request the rollup
    cannot serve exactly (filter on a non-maintained column; non-multiple
    interval) falls back to the raw scan with a 200 — while the same
    request with an EXPLICIT ?source=rollup stays a 400 (a caller who
    forced a route never gets silently-different routing)."""
    base, _wh = logs_endpoint
    for qs in ("filter=body=~%25x%25", "interval=45"):
        with urllib.request.urlopen(f"{base}/panels/q5_timeseries?{qs}") as r:
            fell_back = json.loads(r.read())
        assert fell_back["source"] == "raw"
        try:
            urllib.request.urlopen(
                f"{base}/panels/q5_timeseries?source=rollup&{qs}"
            )
        except urllib.error.HTTPError as e:
            assert e.code == 400
        else:
            raise AssertionError("expected 400 for forced incompatible route")
    # an unknown source value is a client error, not a silent raw scan
    try:
        urllib.request.urlopen(f"{base}/panels/q5_timeseries?source=banana")
    except urllib.error.HTTPError as e:
        assert e.code == 400 and "banana" in json.loads(e.read())["error"]
    else:
        raise AssertionError("expected 400")


def test_panels_auto_route_without_rollup_dir_serves_raw(spark, tmp_path):
    """An endpoint configured WITHOUT rollup_dir auto-routes q5 to the
    raw scan (no error) — and q2 still gets the pruned route, which needs
    only the warehouse."""
    from demo_otel_parquet_antalya_spark.sources.generator import generate_files
    from demo_otel_parquet_antalya_spark.streaming.ingest import run_ingest_once

    landing, wh = str(tmp_path / "landing"), str(tmp_path / "wh")
    generate_files(landing, n_files=2, records_per_file=40)
    run_ingest_once(spark, landing, wh, str(tmp_path / "ckpt"))
    server = start_sql_endpoint(spark, SF_DIR, logs_dir=wh, rollup_dir=None)
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        with urllib.request.urlopen(f"{base}/panels/q5_timeseries") as r:
            assert json.loads(r.read())["source"] == "raw"
        with urllib.request.urlopen(f"{base}/panels/q2_recent_logs?limit=5") as r:
            assert json.loads(r.read())["source"] == "pruned"
    finally:
        server.shutdown()


def test_auto_route_guards_change_cost_never_answers(spark, tmp_path):
    """code-review r11: three requests the facade would happily serve
    from the rollup but with DIFFERENT answers than raw must auto-route
    to raw — (a) a rollup with no committed snapshot (blank 200 panels),
    (b) a single-dim rollup without service_name (q5's series would
    silently change), (c) a windowed q5 (a $timeFilter can cut a bucket;
    raw windows are already flat via partition pruning)."""
    import datetime

    from urllib.parse import urlencode

    from demo_otel_parquet_antalya_spark.sources.generator import generate_files
    from demo_otel_parquet_antalya_spark.streaming.ingest import run_ingest_once
    from demo_otel_parquet_antalya_spark.streaming.rollup import incremental_rollup

    landing, wh = str(tmp_path / "landing"), str(tmp_path / "wh")
    generate_files(landing, n_files=2, records_per_file=40)
    run_ingest_once(spark, landing, wh, str(tmp_path / "ckpt"))

    # (a) configured rollup_dir, but the maintenance stream never ran
    server = start_sql_endpoint(
        spark, SF_DIR, logs_dir=wh, rollup_dir=str(tmp_path / "empty_rollup"),
        rollup_dims=("service_name", "severity_text"),
    )
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        for panel in ("q5_timeseries", "q3_severity_counts"):
            with urllib.request.urlopen(f"{base}/panels/{panel}") as r:
                got = json.loads(r.read())
            assert got["source"] == "raw" and got["row_count"] > 0, panel
    finally:
        server.shutdown()

    # (b) a single-dim legacy rollup (generic event_type name): q5's
    # series contract (service_name) is not provably maintained -> raw
    rollup = str(tmp_path / "rollup1d")
    q = incremental_rollup(
        spark.readStream.schema(spark.read.parquet(wh).schema).parquet(wh),
        rollup, str(tmp_path / "rckpt"),
        bucket="30 seconds", ts_col="timestamp", dim_col="severity_text",
    )
    q.awaitTermination()
    server = start_sql_endpoint(
        spark, SF_DIR, logs_dir=wh, rollup_dir=rollup,
        rollup_dims=("event_type",),
    )
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        with urllib.request.urlopen(f"{base}/panels/q5_timeseries") as r:
            got = json.loads(r.read())
        assert got["source"] == "raw"
        # the q5 series must be the raw panel's: service names, not the
        # severity values the single-dim rollup happens to hold
        services = {row[1] for row in got["rows"]}
        assert not services & {"ERROR", "WARN", "INFO", "DEBUG"}
        # q3 needs both dims maintained -> raw too
        with urllib.request.urlopen(f"{base}/panels/q3_severity_counts") as r:
            assert json.loads(r.read())["source"] == "raw"
        # explicit ?source=rollup keeps the documented facade fallback
        # (sole dimension as the series) — forced, not default
        with urllib.request.urlopen(
            f"{base}/panels/q5_timeseries?source=rollup"
        ) as r:
            forced = json.loads(r.read())
        assert forced["source"] == "rollup"
        assert {row[1] for row in forced["rows"]} <= {
            "ERROR", "WARN", "INFO", "DEBUG", "TRACE", "FATAL",
        }
    finally:
        server.shutdown()

    # (c) a windowed q5 on a fully-configured endpoint -> raw
    rollup2 = str(tmp_path / "rollup2d")
    q = incremental_rollup(
        spark.readStream.schema(spark.read.parquet(wh).schema).parquet(wh),
        rollup2, str(tmp_path / "r2ckpt"),
        bucket="30 seconds", ts_col="timestamp",
        dim_cols=("service_name", "severity_text"),
    )
    q.awaitTermination()
    server = start_sql_endpoint(
        spark, SF_DIR, logs_dir=wh, rollup_dir=rollup2,
        rollup_dims=("service_name", "severity_text"),
    )
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        lo = spark.read.parquet(wh).selectExpr("min(timestamp) AS m").first()[0]
        qs = urlencode({
            "start": lo.isoformat(sep=" "),
            "end": (lo + datetime.timedelta(minutes=5)).isoformat(sep=" "),
        })
        with urllib.request.urlopen(f"{base}/panels/q5_timeseries?{qs}") as r:
            got = json.loads(r.read())
        assert got["source"] == "raw" and got["row_count"] > 0
        # the unwindowed default still takes the rollup
        with urllib.request.urlopen(f"{base}/panels/q5_timeseries") as r:
            assert json.loads(r.read())["source"] == "rollup"
    finally:
        server.shutdown()


def test_auto_route_config_errors_surface_as_400(spark, tmp_path):
    """code-review r11: the auto fallback catches ONLY
    RollupRouteIncompatible. An endpoint whose rollup_dims CLAIM
    dimensions the committed snapshot does not have is a broken
    production configuration — it must 400 on the plain panel path; a
    blanket except-ValueError would silently and PERMANENTLY serve the
    O(raw) scan while the operator believes the rollup routing is
    active."""
    from demo_otel_parquet_antalya_spark.sources.generator import generate_files
    from demo_otel_parquet_antalya_spark.streaming.ingest import run_ingest_once
    from demo_otel_parquet_antalya_spark.streaming.rollup import incremental_rollup

    landing, wh = str(tmp_path / "landing"), str(tmp_path / "wh")
    generate_files(landing, n_files=2, records_per_file=40)
    run_ingest_once(spark, landing, wh, str(tmp_path / "ckpt"))
    rollup = str(tmp_path / "rollup")
    q = incremental_rollup(
        spark.readStream.schema(spark.read.parquet(wh).schema).parquet(wh),
        rollup, str(tmp_path / "rollup_ckpt"),
        bucket="30 seconds", ts_col="timestamp",
        dim_cols=("severity_text",),  # what the snapshot actually holds
    )
    q.awaitTermination()
    server = start_sql_endpoint(
        spark, SF_DIR, logs_dir=wh, rollup_dir=rollup,
        rollup_dims=("service_name", "severity_text"),  # NOT what it holds
    )
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        for name in ("q3_severity_counts", "q5_timeseries"):
            try:
                urllib.request.urlopen(f"{base}/panels/{name}")
            except urllib.error.HTTPError as e:
                assert e.code == 400, name
                assert "not the claimed" in json.loads(e.read())["error"], name
            else:
                raise AssertionError(f"{name}: broken rollup config must 400")
    finally:
        server.shutdown()


def test_explicit_rollup_route_on_empty_rollup_is_400_not_blank_200(
    spark, tmp_path
):
    """A never-committed rollup serves NOTHING: the auto path falls back
    to raw (exact answers from the warehouse), and the FORCED
    ?source=rollup now 400s ('no committed') instead of the old blank
    200 panel — read_rollup(require_snapshot=True) raises in one listing
    where the removed serving guard needed two."""
    from demo_otel_parquet_antalya_spark.sources.generator import generate_files
    from demo_otel_parquet_antalya_spark.streaming.ingest import run_ingest_once

    landing, wh = str(tmp_path / "landing"), str(tmp_path / "wh")
    generate_files(landing, n_files=2, records_per_file=40)
    run_ingest_once(spark, landing, wh, str(tmp_path / "ckpt"))
    server = start_sql_endpoint(
        spark, SF_DIR, logs_dir=wh, rollup_dir=str(tmp_path / "never_ran"),
        rollup_dims=("service_name", "severity_text"),
    )
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        with urllib.request.urlopen(f"{base}/panels/q5_timeseries") as r:
            assert json.loads(r.read())["source"] == "raw"
        try:
            urllib.request.urlopen(f"{base}/panels/q5_timeseries?source=rollup")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            assert "no committed" in json.loads(e.read())["error"]
        else:
            raise AssertionError("forced empty-rollup route must 400")
    finally:
        server.shutdown()


def test_pruned_default_keeps_raw_truncated_flag(spark, tmp_path):
    """code-review r11: 'the fallback changes cost, never answers' covers
    the payload's truncated flag too. With a client limit above row_cap,
    the raw route probes cap+1 rows and reports truncated=true; the
    pruned default used to clamp the limit to cap first and report
    truncated=false on the same request."""
    from demo_otel_parquet_antalya_spark.sources.generator import generate_files
    from demo_otel_parquet_antalya_spark.streaming.ingest import run_ingest_once

    landing, wh = str(tmp_path / "landing"), str(tmp_path / "wh")
    generate_files(landing, n_files=2, records_per_file=40)  # 80 rows
    run_ingest_once(spark, landing, wh, str(tmp_path / "ckpt"))
    server = start_sql_endpoint(spark, SF_DIR, row_cap=20, logs_dir=wh)
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        with urllib.request.urlopen(
            f"{base}/panels/q2_recent_logs?limit=50&source=raw"
        ) as r:
            raw = json.loads(r.read())
        with urllib.request.urlopen(
            f"{base}/panels/q2_recent_logs?limit=50"
        ) as r:
            pruned = json.loads(r.read())
        assert pruned["source"] == "pruned"
        assert raw["truncated"] is True
        assert pruned["truncated"] is True
        assert pruned["row_count"] == raw["row_count"] == 20
    finally:
        server.shutdown()


@pytest.fixture(scope="module")
def spanned_endpoint(spark, tmp_path_factory):
    """An endpoint over the MIXED-GRAIN layout (r12, VERDICT r11 #1): a
    30 s (service, severity) fine rollup plus its 300 s
    compact_rollup_grain tail below a coarse-aligned boundary that splits
    the warehouse's time range (files land 60 s apart from epoch 1.7e9)."""
    from demo_otel_parquet_antalya_spark.sources.generator import generate_files
    from demo_otel_parquet_antalya_spark.streaming.ingest import run_ingest_once
    from demo_otel_parquet_antalya_spark.streaming.rollup import (
        compact_rollup_grain,
        incremental_rollup,
    )

    tmp = tmp_path_factory.mktemp("serving_spanned")
    landing, wh = str(tmp / "landing"), str(tmp / "warehouse")
    generate_files(landing, n_files=3, records_per_file=60)
    run_ingest_once(spark, landing, wh, str(tmp / "ckpt"))
    rollup = str(tmp / "rollup")
    q = incremental_rollup(
        spark.readStream.schema(spark.read.parquet(wh).schema).parquet(wh),
        rollup, str(tmp / "rollup_ckpt"),
        bucket="30 seconds", ts_col="timestamp",
        dim_cols=("service_name", "severity_text"),
    )
    q.awaitTermination()
    boundary = "2023-11-14 22:15:00"  # epoch 1_700_000_100: 300 s aligned
    coarse = str(tmp / "coarse")
    compact_rollup_grain(
        spark, rollup, coarse, 30, 300,
        dim_cols=("service_name", "severity_text"), older_than=boundary,
    )
    server = start_sql_endpoint(
        spark, SF_DIR, row_cap=5000, logs_dir=wh, rollup_dir=rollup,
        rollup_dims=("service_name", "severity_text"),
        rollup_coarse_dir=coarse, rollup_coarse_interval_s=300,
        rollup_boundary=boundary,
        request_timeout_s=10.0,
    )
    host, port = server.server_address
    yield f"http://{host}:{port}", boundary
    server.shutdown()


def test_q5_spanned_rollup_matches_raw_over_http(spanned_endpoint):
    """Coarse-multiple intervals are served from the fine+coarse union
    EXACTLY (values equal the raw panel); a fine-grain full-history
    request honestly refuses the spanned route (auto -> raw, forced ->
    400); a fine-grain window the fine snapshot owns serves from it."""
    base, boundary = spanned_endpoint
    for path in ("/panels/q5_timeseries?interval=300&source=raw",
                 "/panels/q5_timeseries?interval=300&source=rollup"):
        try:
            urllib.request.urlopen(base + path).read()
        except urllib.error.HTTPError:
            pass
    with urllib.request.urlopen(
        f"{base}/panels/q5_timeseries?interval=300&source=raw"
    ) as r:
        raw = json.loads(r.read())
    with urllib.request.urlopen(
        f"{base}/panels/q5_timeseries?interval=300&source=rollup"
    ) as r:
        forced = json.loads(r.read())
    # the PLAIN request — what a provisioned Grafana sends when zoomed
    # out — auto-routes to the spanned rollup
    with urllib.request.urlopen(
        f"{base}/panels/q5_timeseries?interval=300"
    ) as r:
        auto = json.loads(r.read())
    assert forced["source"] == "rollup" and auto["source"] == "rollup"
    assert forced["row_count"] == raw["row_count"] > 0
    assert sorted(map(tuple, forced["rows"])) == sorted(map(tuple, raw["rows"]))
    assert sorted(map(tuple, auto["rows"])) == sorted(map(tuple, raw["rows"]))
    # fine-grain FULL-history: the tail is coarse, so the only exact
    # answer is raw — auto falls back (cost, never answers) ...
    with urllib.request.urlopen(f"{base}/panels/q5_timeseries?interval=30") as r:
        fallback = json.loads(r.read())
    assert fallback["source"] == "raw"
    # ... and the forced route 400s instead of serving silently-wrong bins
    try:
        urllib.request.urlopen(
            f"{base}/panels/q5_timeseries?interval=30&source=rollup"
        )
    except urllib.error.HTTPError as e:
        assert e.code == 400 and "finer than" in json.loads(e.read())["error"]
    else:
        raise AssertionError("expected 400")
    # a fine-grain WINDOW at/after the boundary is owned by the fine
    # snapshot: forced spanned route == raw, same window
    qs = f"interval=30&start={boundary.replace(' ', 'T')}"
    with urllib.request.urlopen(
        f"{base}/panels/q5_timeseries?{qs}&source=raw"
    ) as r:
        raw_w = json.loads(r.read())
    with urllib.request.urlopen(
        f"{base}/panels/q5_timeseries?{qs}&source=rollup"
    ) as r:
        fine_w = json.loads(r.read())
    assert fine_w["row_count"] == raw_w["row_count"] > 0
    assert sorted(map(tuple, fine_w["rows"])) == sorted(map(tuple, raw_w["rows"]))


def test_q3_spanned_rollup_matches_raw_over_http(spanned_endpoint):
    """The severity-counts panel sums over ALL buckets, so the spanned
    union serves it exactly at any grain mix — the full-history panel
    stays O(snapshot) after the tail coarsens, by default."""
    base, _boundary = spanned_endpoint
    for path in ("/panels/q3_severity_counts?source=raw",
                 "/panels/q3_severity_counts"):
        try:
            urllib.request.urlopen(base + path).read()
        except urllib.error.HTTPError:
            pass
    with urllib.request.urlopen(
        f"{base}/panels/q3_severity_counts?source=raw"
    ) as r:
        raw = json.loads(r.read())
    with urllib.request.urlopen(f"{base}/panels/q3_severity_counts") as r:
        auto = json.loads(r.read())
    assert auto["source"] == "rollup"
    assert auto["row_count"] == raw["row_count"] > 0
    assert sorted(map(tuple, auto["rows"])) == sorted(map(tuple, raw["rows"]))


def test_partial_spanned_config_rejected_at_start(spark):
    """A partially-specified mixed-grain trio must fail at endpoint START
    (a config error), not silently serve single-snapshot history."""
    with pytest.raises(ValueError, match="mixed-grain"):
        start_sql_endpoint(
            spark, SF_DIR, logs_dir="/nonexistent", rollup_dir="/nonexistent",
            rollup_coarse_dir="/nonexistent-coarse",
        )


def test_spanned_auto_boundary_follows_trim_marker(spark, tmp_path):
    """rollup_boundary='auto' (r12): the endpoint serves the spanned split
    from the trimming maintenance stream's recorded boundary — values
    equal raw, and the config needs no flag day as the trim advances."""
    from demo_otel_parquet_antalya_spark.sources.generator import generate_files
    from demo_otel_parquet_antalya_spark.streaming.ingest import run_ingest_once
    from demo_otel_parquet_antalya_spark.streaming.rollup import (
        compact_rollup_grain,
        incremental_rollup,
        read_trim_boundary,
    )

    landing, wh = str(tmp_path / "landing"), str(tmp_path / "warehouse")
    generate_files(landing, n_files=4, records_per_file=50)
    run_ingest_once(spark, landing, wh, str(tmp_path / "ckpt"))
    rollup, coarse = str(tmp_path / "rollup"), str(tmp_path / "coarse")
    dims = ("service_name", "severity_text")
    schema = spark.read.parquet(wh).schema
    incremental_rollup(
        spark.readStream.schema(schema).parquet(wh),
        rollup, str(tmp_path / "rckpt"), bucket="30 seconds",
        ts_col="timestamp", dim_cols=dims,
    ).awaitTermination()
    # compact the first two minutes, then one more (trimming) maintenance
    # pass over the same data re-asserts nothing new but a RESTARTED
    # trimming stream over new traffic records the clamped boundary
    cut = "2023-11-14 22:15:00"  # epoch 1_700_000_100, 300 s aligned
    compact_rollup_grain(spark, rollup, coarse, 30, 300, dim_cols=dims, older_than=cut)
    # new traffic lands in the SAME landing dir (distinct names) and the
    # SAME ingest checkpoint drains the delta — the file sink's
    # _spark_metadata log belongs to that checkpoint's query lineage
    import shutil

    generate_files(str(tmp_path / "landing2"), n_files=1, records_per_file=30,
                   base_ns=1_700_000_280_000_000_000)
    shutil.copy(str(tmp_path / "landing2" / "otlp_00000.json"),
                str(tmp_path / "landing" / "otlp_late_00009.json"))
    run_ingest_once(spark, landing, wh, str(tmp_path / "ckpt"))
    incremental_rollup(
        spark.readStream.schema(schema).parquet(wh),
        rollup, str(tmp_path / "rckpt"), bucket="30 seconds",
        ts_col="timestamp", dim_cols=dims,
        trim_horizon_s=120, trim_coarse_dir=coarse, trim_coarse_interval_s=300,
    ).awaitTermination()
    # the compaction cut (22:15:00) sits right AT the original traffic's
    # head, so its coverage claims the then-live partial coarse bucket;
    # the r14 stale-coverage clamp (_safe_trim_cand) therefore licenses
    # only hwm - horizon floored = one coarse bucket below the cut —
    # in-contract arrivals could still land in [22:10, 22:15) until a
    # re-compaction sees them. The boundary is sound, not the cut.
    assert read_trim_boundary(spark, rollup) == (1_699_999_800, 300)

    server = start_sql_endpoint(
        spark, SF_DIR, row_cap=5000, logs_dir=wh, rollup_dir=rollup,
        rollup_dims=dims, rollup_coarse_dir=coarse,
        rollup_coarse_interval_s=300, rollup_boundary="auto",
    )
    try:
        host, port = server.server_address
        base = f"http://{host}:{port}"
        with urllib.request.urlopen(
            f"{base}/panels/q5_timeseries?interval=300&source=raw"
        ) as r:
            raw = json.loads(r.read())
        with urllib.request.urlopen(
            f"{base}/panels/q5_timeseries?interval=300"
        ) as r:
            auto = json.loads(r.read())
        assert auto["source"] == "rollup"
        assert auto["row_count"] == raw["row_count"] > 0
        assert sorted(map(tuple, auto["rows"])) == sorted(map(tuple, raw["rows"]))
        with urllib.request.urlopen(f"{base}/panels/q3_severity_counts") as r:
            auto3 = json.loads(r.read())
        with urllib.request.urlopen(
            f"{base}/panels/q3_severity_counts?source=raw"
        ) as r:
            raw3 = json.loads(r.read())
        assert auto3["source"] == "rollup"
        assert sorted(map(tuple, auto3["rows"])) == sorted(map(tuple, raw3["rows"]))
    finally:
        server.shutdown()


def test_misaligned_static_boundary_fails_at_start(spark):
    """code-review r12: an unparseable or coarse-misaligned static
    rollup_boundary must fail at endpoint START — not 400 every panel at
    serve time (and the resolved epoch removes the per-request parse
    job from the serving hot path)."""
    for bad in ("2023-11-14 22:16:00", "not-a-timestamp"):
        with pytest.raises(ValueError, match="aligned|unparseable"):
            start_sql_endpoint(
                spark, SF_DIR, logs_dir="/nonexistent",
                rollup_dir="/nonexistent-rollup",
                rollup_coarse_dir="/nonexistent-coarse",
                rollup_coarse_interval_s=300, rollup_boundary=bad,
            )


@pytest.fixture(scope="module")
def m4_endpoint(spark, tmp_path_factory):
    """An endpoint over the mixed-grain M4 downsample layout (r13, VERDICT
    r12 #3): an hourly M4 state maintained over the events table, its tail
    compacted to 4 h pixels below a static coarse-aligned boundary that
    splits the data range."""
    from demo_otel_parquet_antalya_spark.plans.tables import load_table
    from demo_otel_parquet_antalya_spark.streaming.sketches import (
        compact_m4_grain,
        incremental_m4,
    )

    tmp = tmp_path_factory.mktemp("serving_m4")
    src = str(tmp / "events_src")
    events = load_table(spark, SF_DIR, "events").select("event_id", "ts", "value")
    events.write.parquet(src)
    m4_dir = str(tmp / "m4")
    incremental_m4(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
        m4_dir, str(tmp / "m4_ckpt"),
    ).awaitTermination()
    boundary = 1705795200  # 2024-01-21 00:00:00 UTC, 14400-aligned
    coarse = str(tmp / "m4_coarse")
    compact_m4_grain(
        spark, m4_dir, coarse, dst_interval_s=14400, older_than_epoch=boundary
    )
    server = start_sql_endpoint(
        spark, SF_DIR, row_cap=5000,
        m4_dir=m4_dir, m4_interval_s=3600,
        m4_coarse_dir=coarse, m4_coarse_interval_s=14400, m4_boundary=boundary,
        request_timeout_s=10.0,
    )
    host, port = server.server_address
    yield f"http://{host}:{port}", src
    server.shutdown()


def test_m4_downsample_panel_matches_direct_m4_over_raw(m4_endpoint, spark):
    """/panels/m4_downsample serves first/min/max/last per pixel bucket
    from the maintained fine+coarse M4 layout; at any coarse-multiple
    interval the payload must equal DIRECT M4 over the raw events — the
    spanned plumbing (boundary split, grain markers, arg-key re-merge)
    changes cost, never answers."""
    from pyspark.sql import functions as F

    from demo_otel_parquet_antalya_spark.streaming.sketches import (
        _m4_batch,
        _m4_with_start,
        m4_remerge,
    )

    base, src = m4_endpoint
    with urllib.request.urlopen(f"{base}/panels/m4_downsample?interval=86400") as r:
        got = json.loads(r.read())
    assert got["source"] == "m4"
    assert got["columns"] == ["t", "v_first", "v_min", "v_max", "v_last"]

    # a BARE GET defaults to the layout's coarsest grain (ADVICE r13: the
    # old fine-grain default could never be a coarse multiple on a
    # spanned endpoint, so every bare GET 400'd)
    with urllib.request.urlopen(f"{base}/panels/m4_downsample") as r:
        bare = json.loads(r.read())
    assert bare["source"] == "m4" and bare["row_count"] > 0
    raw = spark.read.parquet(src)
    want = {
        (str(r.t), r.v_first, r.v_min, r.v_max, r.v_last)
        for r in m4_remerge(
            _m4_with_start(_m4_batch(raw, "ts", "event_id", "value"), 3600), 86400
        )
        .select(
            F.timestamp_seconds("bucket_start").alias("t"),
            "v_first", "v_min", "v_max", "v_last",
        )
        .collect()
    }
    assert {
        (r[0].replace("T", " "), r[1], r[2], r[3], r[4]) for r in got["rows"]
    } == {(t.replace("T", " "), *rest) for (t, *rest) in want}
    assert got["row_count"] == len(want) > 0

    # $timeFilter window on whole output pixels: [start, end) filters the
    # same daily buckets the direct computation yields
    lo, hi = "2024-01-19 00:00:00", "2024-01-23 00:00:00"
    import urllib.parse as _up

    qs = _up.urlencode({"interval": 86400, "start": lo, "end": hi})
    with urllib.request.urlopen(f"{base}/panels/m4_downsample?{qs}") as r:
        windowed = json.loads(r.read())
    want_w = {row for row in want if lo <= row[0].replace("T", " ") < hi}
    assert {
        (r[0].replace("T", " "), r[1], r[2], r[3], r[4]) for r in windowed["rows"]
    } == want_w
    assert 0 < windowed["row_count"] < got["row_count"]


def test_m4_downsample_refusals_are_loud(m4_endpoint, endpoint):
    """There is NO raw fallback for the downsample panel: a non-multiple
    interval, a filter, a foreign source and an unconfigured endpoint are
    all 400s — never a silent rescan or silently-wrong pixels."""
    base, _src = m4_endpoint
    cases = [
        (f"{base}/panels/m4_downsample?interval=3600", "not a positive multiple"),
        (f"{base}/panels/m4_downsample?interval=0", "not a positive multiple"),
        (f"{base}/panels/m4_downsample?interval=86400&filter=a=b", "no ad-hoc"),
        (f"{base}/panels/m4_downsample?interval=abc", "not an integer"),
        (f"{base}/panels/m4_downsample?source=raw", "maintained M4 snapshot only"),
        (f"{endpoint}/panels/m4_downsample?interval=86400", "no M4 snapshot"),
        # a window edge that cuts an output pixel has no exact answer
        (
            f"{base}/panels/m4_downsample?interval=86400"
            "&start=2024-01-19%2012:00:00",
            "not aligned",
        ),
    ]
    for url, needle in cases:
        try:
            urllib.request.urlopen(url)
        except urllib.error.HTTPError as e:
            assert e.code == 400, url
            assert needle in json.loads(e.read())["error"], url
        else:
            raise AssertionError(f"expected 400 for {url}")


def test_m4_config_guards_at_start(spark):
    """The M4 trio is all-or-nothing at endpoint START; a misaligned
    static boundary fails at start; 'auto' (r14) starts fine — it
    resolves per request from the trimming stream's recorded marker, and
    a snapshotless/markerless layout answers 400, never a silently
    truncated fine side."""
    with pytest.raises(ValueError, match="mixed-grain M4"):
        start_sql_endpoint(spark, SF_DIR, m4_dir="/x", m4_coarse_dir="/y")
    with pytest.raises(ValueError, match="not aligned"):
        start_sql_endpoint(
            spark, SF_DIR, m4_dir="/x", m4_coarse_dir="/y",
            m4_coarse_interval_s=14400, m4_boundary=1705795230,
        )
    server = start_sql_endpoint(
        spark, SF_DIR, m4_dir="/nonexistent-m4",
        m4_coarse_dir="/nonexistent-coarse",
        m4_coarse_interval_s=14400, m4_boundary="auto",
    )
    host, port = server.server_address
    try:
        urllib.request.urlopen(
            f"http://{host}:{port}/panels/m4_downsample?interval=14400"
        )
    except urllib.error.HTTPError as e:
        assert e.code == 400
        assert "no committed" in json.loads(e.read())["error"]
    else:
        raise AssertionError("expected 400")
    finally:
        server.shutdown()


def test_approx_rollup_panel_serves_sketch_states(spark, tmp_path):
    """r13: /panels/approx_rollup serves distinct-users + p50/p95 per
    bucket by re-MERGING the maintained hourly HLL/KLL states (the same
    mergeability the maintenance stream relies on) — HTTP must equal the
    library's own merge over the same state, windowing must align to
    whole output buckets, and incompatibilities are 400s (no raw
    fallback; the sketch state is the production source)."""
    from demo_otel_parquet_antalya_spark.plans.tables import load_table
    from demo_otel_parquet_antalya_spark.streaming.sketches import (
        incremental_sketches,
        sketch_panel,
    )

    src = str(tmp_path / "events_src")
    load_table(spark, SF_DIR, "events").select("ts", "user_id", "value").write.parquet(src)
    sketch_dir = str(tmp_path / "sketches")
    incremental_sketches(
        spark.readStream.schema(spark.read.parquet(src).schema).parquet(src),
        sketch_dir, str(tmp_path / "ckpt"),
    ).awaitTermination()
    server = start_sql_endpoint(
        spark, SF_DIR, row_cap=5000, sketch_dir=sketch_dir, request_timeout_s=10.0,
    )
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        with urllib.request.urlopen(f"{base}/panels/approx_rollup?interval=86400") as r:
            got = json.loads(r.read())
        assert got["source"] == "sketch"
        assert got["columns"] == ["t", "approx_users", "p50", "p95"]
        want = {
            (str(r.t).replace("T", " "), r.approx_users, r.p50, r.p95)
            for r in sketch_panel(spark, sketch_dir, 86400).collect()
        }
        assert {
            (r[0].replace("T", " "), r[1], r[2], r[3]) for r in got["rows"]
        } == want
        assert got["row_count"] == len(want) > 1

        # window on whole output buckets
        lo = "2024-01-19 00:00:00"
        with urllib.request.urlopen(
            f"{base}/panels/approx_rollup?interval=86400&start="
            + lo.replace(" ", "%20")
        ) as r:
            windowed = json.loads(r.read())
        assert 0 < windowed["row_count"] < got["row_count"]
        assert {r[0].replace("T", " ") for r in windowed["rows"]} == {
            t for (t, *_rest) in want if t >= lo
        }

        # refusals: non-hour-multiple interval, unaligned edge, filters,
        # foreign source — all 400
        for qstr, needle in (
            ("interval=5400", "not a positive multiple"),
            ("interval=86400&start=2024-01-19%2012:00:00", "not aligned"),
            ("interval=86400&filter=a=b", "no ad-hoc"),
            ("source=raw", "maintained sketch snapshot only"),
        ):
            try:
                urllib.request.urlopen(f"{base}/panels/approx_rollup?{qstr}")
            except urllib.error.HTTPError as e:
                assert e.code == 400 and needle in json.loads(e.read())["error"], qstr
            else:
                raise AssertionError(f"expected 400 for {qstr}")
    finally:
        server.shutdown()

    # unconfigured endpoint: 400, not a blank panel
    bare = start_sql_endpoint(spark, SF_DIR, row_cap=500)
    bhost, bport = bare.server_address
    try:
        urllib.request.urlopen(f"http://{bhost}:{bport}/panels/approx_rollup")
    except urllib.error.HTTPError as e:
        assert e.code == 400 and "no sketch snapshot" in json.loads(e.read())["error"]
    else:
        raise AssertionError("expected 400")
    finally:
        bare.shutdown()


def test_auto_fallback_reason_is_observable(spanned_endpoint):
    """r13 (VERDICT r12 'worth keeping visible'): when auto routing falls
    back to the raw scan, the payload SAYS WHY — a fine-grain
    full-history q5 against a spanned endpoint is the case a fleet of
    default-interval dashboards would otherwise quietly pay O(raw) for.
    Forced raw (?source=raw) carries no reason: nothing fell back."""
    base, _boundary = spanned_endpoint
    with urllib.request.urlopen(f"{base}/panels/q5_timeseries?interval=30") as r:
        fallback = json.loads(r.read())
    assert fallback["source"] == "raw"
    assert "finer than" in fallback["fallback_reason"]
    with urllib.request.urlopen(
        f"{base}/panels/q5_timeseries?interval=30&source=raw"
    ) as r:
        forced = json.loads(r.read())
    assert forced["source"] == "raw" and "fallback_reason" not in forced
    # the flat route carries none either
    with urllib.request.urlopen(f"{base}/panels/q5_timeseries?interval=300") as r:
        flat = json.loads(r.read())
    assert flat["source"] == "rollup" and "fallback_reason" not in flat


def test_m4_auto_boundary_http_equals_static(spark, tmp_path):
    """r14 (VERDICT r13 #1): an endpoint configured with
    m4_boundary='auto' follows the trimming incremental_m4 stream's
    recorded trim marker and serves EXACTLY what the static-boundary
    endpoint serves at the same split — the trim advances the serving
    boundary without a restart or a config flag day."""
    import os

    import pandas as pd

    from demo_otel_parquet_antalya_spark.streaming.rollup import (
        read_trim_boundary,
    )
    from demo_otel_parquet_antalya_spark.streaming.sketches import (
        compact_m4_grain,
        incremental_m4,
    )

    base = pd.Timestamp("2024-01-01 00:00:00")
    base_epoch = 1704067200
    src = str(tmp_path / "events")
    m4_dir, coarse_dir = str(tmp_path / "m4"), str(tmp_path / "m4_tail")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    def _write(fname, rows):
        with open(f"{src}/{fname}", "w") as f:
            for off, eid, val in rows:
                f.write(json.dumps({
                    "ts": str(base + pd.Timedelta(seconds=off)),
                    "event_id": eid, "value": val,
                }) + "\n")

    def _stream():
        return (
            spark.readStream
            .schema("ts timestamp, event_id bigint, value double")
            .option("maxFilesPerTrigger", 1).json(src)
        )

    # 30 h of history, tail below day 2 compacted to 4 h pixels, then one
    # trimming batch that clamps the boundary to the compaction cut
    _write("b0.json", [(i * 361, i, float((i * 13) % 71)) for i in range(300)])
    incremental_m4(_stream(), m4_dir, ckpt).awaitTermination()
    boundary = base_epoch + 86400
    compact_m4_grain(spark, m4_dir, coarse_dir, 14400, older_than_epoch=boundary)
    _write("b1.json", [(108000 + i * 37, 1000 + i, float(i % 7)) for i in range(40)])
    incremental_m4(
        _stream(), m4_dir, ckpt, trim_horizon_s=7200,
        trim_coarse_dir=coarse_dir, trim_coarse_interval_s=14400,
    ).awaitTermination()
    assert read_trim_boundary(spark, m4_dir) == (boundary, 14400)

    payloads = {}
    for key, b in (("auto", "auto"), ("static", boundary)):
        server = start_sql_endpoint(
            spark, SF_DIR, row_cap=5000, m4_dir=m4_dir,
            m4_coarse_dir=coarse_dir, m4_coarse_interval_s=14400,
            m4_boundary=b, request_timeout_s=10.0,
        )
        host, port = server.server_address
        try:
            # bare GET: defaults to the coarsest grain (14400) on both
            with urllib.request.urlopen(
                f"http://{host}:{port}/panels/m4_downsample"
            ) as r:
                payloads[key] = json.loads(r.read())
        finally:
            server.shutdown()
    assert payloads["auto"]["rows"] == payloads["static"]["rows"]
    assert payloads["auto"]["row_count"] > 0
    assert payloads["auto"]["source"] == "m4"


def test_limit_param_400_names_rows_not_seconds(logs_endpoint):
    """code-review r14: the named-parameter 400 must state the RIGHT unit
    — q2/q6 'limit' is a row count, not seconds."""
    base, _wh = logs_endpoint
    try:
        urllib.request.urlopen(f"{base}/panels/q2_recent_logs?limit=abc")
    except urllib.error.HTTPError as e:
        assert e.code == 400
        msg = json.loads(e.read())["error"]
        assert "limit='abc' is not an integer (rows)" in msg, msg
    else:
        raise AssertionError("expected 400")
