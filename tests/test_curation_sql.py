"""The curation expressions spelled as Spark SQL text, checked against
their DuckDB fragments on adversarial rows, and the FineWeb chains'
boilerplate strip under the oracle gate.

Each curation expression the config transforms and the Column callers
share (the Gopher features and rules, URL canonicalization, the MinHash
shingle base hashes and band buckets) is one SQL text that every caller
parses; the DuckDB fragments stay separate as the independent check.
"""

from __future__ import annotations

import duckdb
import pytest
from conftest import assert_matches_oracle
from pyspark.sql import functions as F

_LINE = "the cat and the dog of the town"  # 8 words, 3 stopwords
_PLAIN = " ".join([_LINE] * 8)  # 64 words on one line

# (doc_id, text): empty and degenerate texts, then documents long
# enough (>= 50 words) that each Gopher rule is decided by its own
# feature rather than by the word count, and one short one.
_TEXTS = [
    (1, None),
    (2, ""),
    (3, "\n"),
    (4, "\n\n\n"),
    (5, _PLAIN),
    # bullets behind leading spaces: every line one → bullet rule fires
    (6, "\n".join(f"   - {_LINE}" if i % 2 else f"  * {_LINE}" for i in range(9))),
    # 5 of 10 lines bulleted → below the 90% bar
    (7, "\n".join(f"  - {_LINE}" if i < 5 else _LINE for i in range(10))),
    # lines ending in "..." (some with trailing blanks before rtrim)
    (8, "\n".join(f"{_LINE} ..." + ("   " if i % 3 == 0 else "") for i in range(8))),
    # 2 of 8 lines end in "..." → below the 30% bar
    (9, "\n".join(f"{_LINE}..." if i < 2 else _LINE for i in range(8))),
    # '#' and '...' runs: '......' counts two ellipses, '.....' one
    (10, _PLAIN + " ### ## # ...... ..... ... #"),
    (11, _PLAIN + " #"),
    # mixed case stop words, counted after lower()
    (12, " ".join(["THE", "And", "OF", "Cat"] * 15)),
    (13, " ".join(["Cat", "Dog"] * 30)),  # no stop word
    (14, " ".join(["4242"] * 40 + ["cat"] * 20)),  # mostly non-alphabetic
    # whitespace runs of mixed kinds, and words full of 's'
    (15, "\t".join(["cats  sits", "stars\t\tsass", "the and  of"] * 12)),
    (16, " ".join(["a"] * 60)),  # mean word length 1
    (17, " ".join(["supercalifragilistic"] * 60)),  # mean word length 20
    (18, "\n\n".join([_LINE] * 8) + "\n"),  # blank lines between lines
    (19, _LINE),  # too few words
]
_WORDY = {i for i, t in _TEXTS if t and t.strip()}

_URLS = [
    (1, None),
    (2, ""),
    (3, "HTTP://WWW.Example.COM/Path/A?b=2&utm_source=x&a=1#frag"),
    (4, "https://example.com/p?utm_source=a&utm_medium=b"),  # utm-only query
    (5, "https://www.example.com/p#only-frag"),  # fragment, no query
    (6, "https://wwwa.example.com/p"),  # 'www' not followed by '.'
    (7, "https://www.www.example.com/"),  # only the leading www. goes
    (8, "https://h.example.com/p?"),  # empty query
    (9, "https://h.example.com/p?&&a=1&&"),  # empty params
    (10, "https://h.example.com?b=1&a=2"),  # query, no path
    (11, "FTP://Files.Example.com/x?z=1&y=2&x"),
    (12, "h.example.com/x?a=1"),  # no scheme
    (13, "https://h.example.com/p?B=1&a=1&A=2&utm_=z"),  # byte-order sort
    (14, "https://h.example.com/p?a=1#x?b=2"),  # '?' inside the fragment
]

_DOCS = [
    (1, None),
    (2, ""),
    (3, "\n"),
    (4, "two tokens"),  # fewer than 3 tokens: no shingle
    (5, "a b c"),  # one shingle
    (6, "a b c a b c a b c"),  # repeated shingles
    (7, "The QUICK brown fox, jumps! over the lazy dog 42 times"),
    (8, "the quick brown fox jumps over the lazy dog 42 times"),  # near-dup of 7
    (9, "x\ny\nz\nx y z"),
    (10, " ".join(f"w{i % 17}" for i in range(80))),
]


def _duck_table(name: str, cols: str, rows) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"CREATE TABLE {name} ({cols})")
    con.executemany(f"INSERT INTO {name} VALUES (?, ?)", rows)
    return con


def test_gopher_sql_text_matches_duckdb_rule_by_rule(spark):
    """Each Gopher rule, parsed from the shared SQL text, selects the
    same documents as ``gopher_fail_sql`` in DuckDB, both where the rule
    holds and where it does not (so a NULL on one side and FALSE on the
    other also fails), and the config filter keeps the same set."""
    from cheetah_spark import config
    from cheetah_spark.queries.curation import (
        gopher_fail_sql,
        gopher_feat_exprs,
        gopher_rule_exprs,
    )

    d = spark.createDataFrame(_TEXTS, "doc_id long, text string")
    con = _duck_table("t", "doc_id BIGINT, text VARCHAR", _TEXTS)
    rules = gopher_rule_exprs(gopher_feat_exprs("text"))
    fired = set()
    try:
        for name, expr in rules.items():
            for neg in (False, True):
                got = {r.doc_id for r in d.where(~expr if neg else expr).collect()}
                fail = gopher_fail_sql("text", (name,))
                want = {
                    r[0]
                    for r in con.sql(
                        f"SELECT doc_id FROM t WHERE {'NOT ' if neg else ''}{fail}"
                    ).fetchall()
                }
                assert got == want, (name, neg, sorted(got ^ want))
                if not neg and got & _WORDY:
                    fired.add(name)
        # every rule fires on some document that has words
        assert fired == set(rules)
        gate = config.build_transform({"type": "gopher_rules", "column": "text"})
        got = {r.doc_id for r in gate(d).collect()}
        want = {
            r[0] for r in con.sql(f"SELECT doc_id FROM t WHERE NOT {gopher_fail_sql('text')}").fetchall()
        }
        assert got == want
    finally:
        con.close()


def test_canonical_url_sql_matches_duckdb(spark):
    """URL canonicalization parsed from its SQL text equals the DuckDB
    ``_canon_url_sql`` fragment row for row, NULL included."""
    from cheetah_spark.queries.curation import _canon_url_sql, _canonical_url_expr

    d = spark.createDataFrame(_URLS, "doc_id long, url string")
    got = {r.doc_id: r.c for r in d.select("doc_id", _canonical_url_expr("url").alias("c")).collect()}
    con = _duck_table("u", "doc_id BIGINT, url VARCHAR", _URLS)
    try:
        want = dict(con.sql(f"SELECT doc_id, {_canon_url_sql('url')} FROM u").fetchall())
    finally:
        con.close()
    assert got == want
    assert got[4] == "https://example.com/p"
    assert got[6] == "https://wwwa.example.com/p"
    # the Column form of the same call reads back the same text
    col = d.select("doc_id", _canonical_url_expr(F.col("url")).alias("c")).collect()
    assert {r.doc_id: r.c for r in col} == got


def test_minhash_sql_text_matches_duckdb_sigs_and_bands(spark):
    """The shingle base-hash array (inside ``minhash_sigs_arrow``) and
    the band bucket (``minhash_bands``) equal the DuckDB
    ``_oracle_minhash_sigs`` and ``_oracle_bands_cand`` fragments: the
    same documents get a signature, with the same values, and the same
    (doc, band, bucket) rows."""
    from cheetah_spark.queries.llm import (
        _oracle_bands_cand,
        _oracle_minhash_sigs,
        minhash_bands,
        minhash_sigs_arrow,
    )

    d = spark.createDataFrame(_DOCS, "doc_id long, text string")
    sigs = minhash_sigs_arrow(d)
    got_sigs = {r.doc_id: list(r.sig) for r in sigs.collect()}
    got_bands = {tuple(r) for r in minhash_bands(sigs).collect()}
    con = _duck_table("docs", "doc_id BIGINT, text VARCHAR", _DOCS)
    try:
        want_sigs = {i: list(s) for i, s in con.sql(_oracle_minhash_sigs("docs")).fetchall()}
        want_bands = set(
            con.sql(
                f"WITH sigs AS ({_oracle_minhash_sigs('docs')}), {_oracle_bands_cand()}"
                " SELECT doc_id, b, bucket FROM bands"
            ).fetchall()
        )
    finally:
        con.close()
    assert sorted(got_sigs) == [5, 6, 7, 8, 9, 10]
    assert got_sigs == want_sigs
    assert got_bands == want_bands
    # the near-duplicate pair shares at least one bucket
    buckets = {}
    for i, b, k in got_bands:
        buckets.setdefault((b, k), set()).add(i)
    assert any({7, 8} <= ids for ids in buckets.values())


def _write_footer_corpus(sf_dir: str, out: str, footer: str) -> None:
    """The fixture's documents with ``footer`` appended as its own line
    to every third document: a corpus with a one-line boilerplate set."""
    con = duckdb.connect()
    try:
        con.execute(
            f"COPY (SELECT doc_id, CASE WHEN doc_id % 3 = 0"
            f" THEN text || chr(10) || '{footer}' ELSE text END AS text,"
            f" lang, source, n_chars FROM '{sf_dir}/documents.parquet' ORDER BY doc_id)"
            f" TO '{out}/documents.parquet' (FORMAT PARQUET)"
        )
        repeated = con.sql(
            "SELECT count(*) FROM (SELECT line FROM (SELECT doc_id,"
            " unnest(string_split(text, chr(10))) AS line"
            f" FROM '{out}/documents.parquet') GROUP BY line"
            " HAVING count(DISTINCT doc_id) >= 2)"
        ).fetchone()[0]
    finally:
        con.close()
    assert repeated == 1  # the footer, and no line of the fixture itself


def _assert_chain_matches_oracle(spark, name: str, sf_dir: str) -> None:
    import cheetah_spark.queries  # noqa: F401  (registers every query)
    from cheetah_spark.registry import REGISTRY

    q = REGISTRY[name]
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
        assert_matches_oracle(q.fn(spark, sf_dir), con.sql(q.oracle))
    finally:
        con.close()


def test_fineweb_chains_strip_a_staged_footer_under_the_oracle(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The registered FineWeb chains on a corpus whose boilerplate set
    is not empty, hash-compared with their DuckDB oracles; then the
    corpus is rewritten with another footer in the same process, and
    the next builds must strip the new line. The boilerplate set is
    memoized per corpus version, so a memo keyed on the path alone
    keeps stripping the old footer and fails the second comparison."""
    import cheetah_spark.streaming as S

    monkeypatch.setattr(S, "FIXTURE_ROOT", str(tmp_path / "fixtures"))
    # the fixture directory is keyed by the sf dir's basename
    sf = tmp_path / "sf_footer"
    sf.mkdir()
    for footer in ("share this page", "all rights reserved by the example network"):
        _write_footer_corpus(sf_dir, str(sf), footer)
        for name in ("q_config_fineweb", "q_config_fineweb_v2"):
            _assert_chain_matches_oracle(spark, name, str(sf))


def test_fineweb_v2_rebuild_starts_no_job(spark, sf_dir, monkeypatch):
    """Plan construction of the registered FineWeb v2 chain, once its
    corpus's boilerplate set is compiled: no job beyond the one every
    read of the source starts (Spark's parquet schema inference), and
    at most 1,000 Py4J round trips (about 2,500 when every build
    recompiled the set and built its expressions Column by Column)."""
    from py4j.clientserver import ClientServerConnection

    from cheetah_spark.queries.declarative import _fineweb_src_dir
    from cheetah_spark.registry import REGISTRY

    sc = spark.sparkContext
    build = REGISTRY["q_config_fineweb_v2"].fn

    def jobs_of(fn, group: str) -> int:
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    build(spark, sf_dir)
    src = _fineweb_src_dir(spark, sf_dir)
    read_jobs = jobs_of(lambda: spark.read.parquet(src), "fineweb_v2_source_read")
    calls = {"n": 0}
    send = ClientServerConnection.send_command

    def counted(self, command):
        calls["n"] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    build_jobs = jobs_of(lambda: build(spark, sf_dir), "fineweb_v2_rebuild")
    n = calls["n"]
    monkeypatch.undo()
    assert build_jobs == read_jobs <= 1
    assert n <= 1000, n


def test_inline_strip_quotes_boilerplate_lines_as_literals(spark):
    """The inline ``line_dedup`` strip puts each boilerplate line into
    its SQL text as a string literal: quotes, backslashes, LIKE and
    comment characters and non-ASCII lines are stripped exactly, and
    a line that only resembles one is kept."""
    from cheetah_spark import config

    shared = ["it's a footer", "C:\\dir\\n", "50% off_now -- ok", 'say "hi"\t!', "ünïcødé ✓"]
    docs = [
        (1, "\n".join(["body one", *shared])),
        (2, "\n".join(["body two", *shared, "it''s a footer"])),
        (3, "body three\nC:\\dir\\n\n\nit's a footer "),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    strip = config.build_transform({"type": "line_dedup", "column": "text"})
    got = {r.doc_id: r.text for r in strip(d).collect()}
    assert got == {
        1: "body one",
        2: "body two\nit''s a footer",
        3: "body three\nit's a footer ",
    }


@pytest.mark.parametrize("pattern", ["[a-z0-9]+", "[a-z]+|[0-9]+|[^a-z0-9\\s]"])
def test_token_and_shingle_sql_equal_the_column_kernels(spark, pattern):
    """``tokens_sql``/``shingles_sql``/``minhash_base_sql`` build the
    same values as the Column kernels they twin, including a pattern
    with a backslash escape (the SQL literal doubles it)."""
    from cheetah_spark.functions import text as X

    d = spark.createDataFrame(_DOCS, "doc_id long, text string")
    toks_sql = X.tokens_sql("text", pattern)
    got = d.selectExpr(
        "doc_id",
        f"{toks_sql} AS tk",
        f"{X.shingles_sql(toks_sql, 3)} AS sh",
        f"transform({X.shingles_sql(toks_sql, 2)}, s -> {X.minhash_base_sql('s')}) AS h",
    ).collect()
    toks = X.tokens(F.col("text"), pattern)
    want = d.select(
        "doc_id",
        toks.alias("tk"),
        X.shingles(toks, 3).alias("sh"),
        F.transform(X.shingles(toks, 2), X.minhash_base).alias("h"),
    ).collect()
    assert sorted(got, key=lambda r: r.doc_id) == sorted(want, key=lambda r: r.doc_id)
    assert any(r.sh for r in got)
