"""Full-grammar Turtle parser (sources/turtle_full.py) — the foreign
document path. Fixtures are written in the style rdflib's serializer
emits (predicate lists, object lists, anonymous bnodes, collections,
triple-quoted literals) — the surface no line-oriented reader can see
(VERDICT r9 missing #1; reference parses this via rdflib,
razu/turtle.py:6-32)."""

import pytest

from razulibs_spark.sources.turtle_full import (
    RDF_NS,
    XSD,
    parse_turtle,
    tokenize_turtle,
)

EX = "http://example.org/"


def _ttl(body: str) -> str:
    return "@prefix ex: <http://example.org/> .\n" + body


def test_predicate_and_object_lists():
    rows = parse_turtle(_ttl(
        'ex:s a ex:T ;\n'
        '  ex:p "a", "b" ;\n'
        '  ex:q ex:o .\n'
    ))
    assert len(rows) == 4
    assert all(r["s"] == EX + "s" for r in rows)
    assert [r["o"] for r in rows if r["p"] == EX + "p"] == ["a", "b"]
    assert rows[0]["p"] == RDF_NS + "type"


def test_trailing_semicolon_is_legal():
    rows = parse_turtle(_ttl('ex:s ex:p "v" ;\n.\n'))
    assert len(rows) == 1


def test_multiline_and_quote_forms():
    rows = parse_turtle(_ttl(
        'ex:s ex:a """line1\nline2 "quoted" end""" ;\n'
        "  ex:b '''single\nlong''' ;\n"
        "  ex:c 'sq' ;\n"
        '  ex:d "esc\\t\\n\\\\ \\u00e9 \\U0001F600" .\n'
    ))
    vals = {r["p"].rsplit("/", 1)[1]: r["o"] for r in rows}
    assert vals["a"] == 'line1\nline2 "quoted" end'
    assert vals["b"] == "single\nlong"
    assert vals["c"] == "sq"
    assert vals["d"] == "esc\t\n\\ é \U0001F600"


def test_numeric_boolean_abbreviations_typed_per_spec():
    rows = parse_turtle(_ttl(
        "ex:s ex:i 42 ; ex:n -7 ; ex:d 3.25 ; ex:e 1.5e3 ; ex:b true ."
    ))
    dt = {r["p"].rsplit("/", 1)[1]: r["o_datatype"] for r in rows}
    assert dt == {
        "i": XSD + "integer", "n": XSD + "integer",
        "d": XSD + "decimal", "e": XSD + "double",
        "b": XSD + "boolean",
    }


def test_lang_datatype_and_xsd_string_canonicalization():
    rows = parse_turtle(_ttl(
        '@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n'
        'ex:s ex:l "hoi"@nl-BE ; ex:t "x"^^xsd:date ; '
        'ex:p "y"^^xsd:string .\n'
    ))
    by = {r["p"].rsplit("/", 1)[1]: r for r in rows}
    assert by["l"]["o_lang"] == "nl-BE"
    assert by["t"]["o_datatype"] == XSD + "date"
    # xsd:string is the plain-literal canonical form
    assert by["p"]["o_datatype"] is None and by["p"]["o_lang"] is None


def test_anonymous_bnodes_nested():
    rows = parse_turtle(_ttl(
        'ex:s ex:ref [ ex:a "x" ; ex:sub [ ex:b 1 ] ] .'
    ), bnode_prefix="px")
    bnodes = {r["s"] for r in rows if r["s"].startswith("_:")}
    assert len(bnodes) == 2
    assert all(b.startswith("_:px") for b in bnodes)
    outer = [r for r in rows if r["p"] == EX + "ref"][0]
    assert outer["o_type"] == "bnode" and outer["o"] in bnodes


def test_collections_expand_to_first_rest_nil():
    rows = parse_turtle(_ttl("ex:s ex:seq ( 1 2 ) ; ex:empty () ."))
    firsts = [r for r in rows if r["p"] == RDF_NS + "first"]
    rests = [r for r in rows if r["p"] == RDF_NS + "rest"]
    assert [r["o"] for r in firsts] == ["1", "2"]
    assert rests[-1]["o"] == RDF_NS + "nil"
    empty = [r for r in rows if r["p"] == EX + "empty"][0]
    assert empty["o"] == RDF_NS + "nil" and empty["o_type"] == "uri"


def test_base_and_sparql_style_directives():
    rows = parse_turtle(
        "BASE <http://b.example/>\n"
        "PREFIX ex: <http://example.org/>\n"
        "<rel> ex:p <#frag> .\n"
    )
    assert rows[0]["s"] == "http://b.example/rel"
    assert rows[0]["o"] == "http://b.example/#frag"


def test_pname_percent_escape_and_dotted_local():
    rows = parse_turtle(_ttl("ex:a%20b ex:p ex:w.x ."))
    assert rows[0]["s"] == EX + "a b"
    assert rows[0]["o"] == EX + "w.x"


def test_labeled_bnodes_and_standalone_bracket_subject():
    rows = parse_turtle(_ttl(
        '_:n1 ex:p "v" .\n[ ex:q "w" ] .\n'
    ))
    assert rows[0]["s"] == "_:n1"
    assert rows[1]["s"].startswith("_:") and rows[1]["s"] != "_:n1"


def test_malformed_inputs_fail_loudly():
    with pytest.raises(ValueError):
        parse_turtle(_ttl('ex:s ex:p "unterminated .'))
    with pytest.raises(ValueError):
        parse_turtle("undeclared:x <http://e/p> <http://e/o> .")
    with pytest.raises(ValueError):
        parse_turtle(_ttl("ex:s ex:p "))  # missing object + dot
    with pytest.raises(ValueError):
        tokenize_turtle("\x00\x01")


def test_comments_and_whitespace_everywhere():
    rows = parse_turtle(_ttl(
        "# leading comment\n"
        'ex:s # mid\n  ex:p # another\n  "v" . # end\n'
    ))
    assert rows == [{
        "s": EX + "s", "p": EX + "p", "o": "v",
        "o_type": "literal", "o_datatype": None, "o_lang": None,
    }]


def test_read_turtle_full_distributed(spark, tmp_path):
    """Per-file Arrow tasks: two documents in one corpus dir; bnode
    labels must not collide across files."""
    (tmp_path / "a.ttl").write_text(_ttl(
        'ex:d1 ex:ref [ ex:pos 1 ] ;\n  ex:lang "nl"@nl .\n'
    ))
    (tmp_path / "b.ttl").write_text(_ttl(
        'ex:d2 ex:ref [ ex:pos 2 ] ;\n  ex:note """m\nn""" .\n'
    ))
    from razulibs_spark.sources.turtle_full import read_turtle_full

    df = read_turtle_full(spark, str(tmp_path)).cache()
    rows = df.collect()
    assert len(rows) == 6
    bnodes = {r["o"] for r in rows if r["o_type"] == "bnode"}
    assert len(bnodes) == 2  # distinct across files
    note = [r["o"] for r in rows if r["p"] == EX + "note"]
    assert note == ["m\nn"]
    df.unpersist()


def test_write_turtle_grouped_emits_predicate_lists(spark, tmp_path):
    """The grouped sink must actually EMIT ';'/',' syntax (not fall
    back to one-triple-per-line) and round-trip through the full
    parser."""
    from razulibs_spark.operators.rdf import EXPANSIONS, TRIPLE_SCHEMA
    from razulibs_spark.sources.turtle_full import (
        read_turtle_full,
        write_turtle_grouped,
    )

    # IRIs under a bound namespace whose local part ends in '.' must
    # stay <IRI>: `ldto:v1.` would read as `ldto:v1` plus a terminator
    dot = EXPANSIONS["ldto"] + "v1."
    rows = [
        ("http://e/s1", "http://e/p1", "a", "literal", None, None),
        ("http://e/s1", "http://e/p1", "b", "literal", None, None),
        ("http://e/s1", "http://e/p2", "http://e/o", "uri", None, None),
        ("http://e/s2", "http://e/p1", "solo", "literal", None, "nl"),
        (dot, "http://e/p1", "x", "literal", None, None),
        ("http://e/s3", "http://e/p2", dot, "uri", None, None),
        ("http://e/s3", "http://e/p1", "7", "literal", dot, None),
    ]
    df = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    out = tmp_path / "grouped"
    write_turtle_grouped(df, str(out))
    import glob as _glob

    text = "".join(
        open(f).read() for f in _glob.glob(str(out / "part-*"))
    )
    assert " ;\n" in text  # predicate list
    assert '"a", "b"' in text  # object list
    # no glob: the sink's part-*.txt files are the whole listing
    back = read_turtle_full(spark, str(out))
    assert {tuple(r) for r in back.collect()} == set(rows)


def test_read_rdf_parses_predicate_list_turtle(spark, tmp_path):
    """read_rdf's Turtle dispatch reads the full grammar: ';'/','
    lists come back as the same triples parse_turtle yields."""
    from razulibs_spark.sources.jsonld import read_rdf

    doc = _ttl(
        'ex:s a ex:T ;\n'
        '  ex:p "a", "b"@nl ;\n'
        '  ex:q ex:o1, ex:o2 .\n'
        'ex:t ex:p 3 .\n'
    )
    path = tmp_path / "doc.ttl"
    path.write_text(doc)
    got = [tuple(r) for r in read_rdf(spark, str(path)).collect()]
    assert sorted(got, key=str) == sorted(
        (tuple(r.values()) for r in parse_turtle(doc)), key=str
    )
    assert len(got) == 6


def test_read_turtle_full_gzipped_documents(spark, tmp_path):
    """Public RDF dumps ship as .ttl.gz (wikidata's shape): the gzip
    member is sniffed by MAGIC, mixed plain + gz corpora read in one
    scan."""
    import gzip

    (tmp_path / "a.ttl").write_text(_ttl('ex:d1 ex:v 1 .\n'))
    (tmp_path / "b.ttl.gz").write_bytes(
        gzip.compress(_ttl('ex:d2 ex:v 2, 3 .\n').encode())
    )
    from razulibs_spark.sources.turtle_full import read_turtle_full

    rows = read_turtle_full(spark, str(tmp_path)).collect()
    assert sorted(r["o"] for r in rows) == ["1", "2", "3"]


def test_consecutive_semicolons_are_legal():
    # grammar: predicateObjectList ::= verb objectList (';' (verb
    # objectList)?)* — every ';' may carry an empty tail, so lenient
    # serializers legally emit ';' runs (ADVICE r10)
    rows = parse_turtle(_ttl('ex:s ex:p 1 ; ; ex:q 2 ; ; .\n'))
    assert [(r["p"], r["o"]) for r in rows] == [
        ("http://example.org/p", "1"),
        ("http://example.org/q", "2"),
    ]


def test_iriref_uchar_escapes():
    # grammar production [18] IRIREF allows UCHAR — some exporters
    # escape non-ASCII IRI characters as \uXXXX / \UXXXXXXXX
    rows = parse_turtle(
        "<http://e/caf\\u00e9> <http://e/p> <http://e/\\U0001F600x> ."
    )
    assert rows[0]["s"] == "http://e/café"
    assert rows[0]["o"] == "http://e/\U0001F600x"


def test_sharded_indented_comment_not_a_terminator(spark, tmp_path):
    """An INDENTED full-line comment ending in '.' ('  # note.')
    inside a multi-line statement must not count as a statement
    terminator — _is_terminated strips LEADING whitespace before the
    '#' check (ADVICE r11)."""
    from razulibs_spark.sources.turtle_full import read_turtle_sharded

    body = (
        "@prefix ex: <http://example.org/> .\n"
        + "\n".join(
            f"ex:s{i} ex:p {i} ;\n"
            f"  # annotation no. {i}.\n"
            f"  ex:q {i + 1} ."
            for i in range(6)
        )
        + "\n"
    )
    p = tmp_path / "dump.ttl"
    p.write_text(body)
    df = read_turtle_sharded(spark, str(p), min_partitions=4)
    rows = df.collect()
    assert len(rows) == 12
    by_s = {}
    for r in rows:
        by_s.setdefault(r["s"], set()).add(r["p"])
    # every subject keeps BOTH predicates in one statement frame
    assert all(len(ps) == 2 for ps in by_s.values()), by_s


def test_sharded_multiline_literals_and_trailing_comments(spark, tmp_path):
    """r12: the sharded reader's 3-state transfer-function scan —
    multi-line long-string literals (both quote kinds) spanning
    forced split boundaries, '.' inside strings, trailing comments
    after terminators, and full-line comments ending in '.' all frame
    correctly; the per-partition entry state comes from composing the
    partition transfer functions on the driver."""
    from razulibs_spark.sources.turtle_full import read_turtle_sharded

    body = "@prefix ex: <http://example.org/> .\n"
    stmts = []
    for d in range(10):
        stmts.append(f"ex:s{d} ex:p {d} . # trailing note {d}.")
        stmts.append(
            f'ex:s{d} ex:note """multi {d}\n'
            "mid . line with dot\n"
            f'tail {d}""" .'
        )
        stmts.append(f"ex:s{d} ex:alt '''other\nkind {d}''' .")
        stmts.append(f"  # full-line indented comment {d}.")
    p = tmp_path / "dump.ttl"
    p.write_text(body + "\n".join(stmts) + "\n")
    df = read_turtle_sharded(spark, str(p), min_partitions=8)
    rows = df.collect()
    assert len(rows) == 30
    notes = {r["s"]: r["o"] for r in rows
             if r["p"].endswith("note")}
    assert notes[EX + "s3"] == "multi 3\nmid . line with dot\ntail 3"
    alts = {r["s"]: r["o"] for r in rows if r["p"].endswith("alt")}
    assert alts[EX + "s7"] == "other\nkind 7"


def test_scan_stmt_line_automaton():
    from razulibs_spark.sources.turtle_full import _scan_stmt_line

    assert _scan_stmt_line("ex:s ex:p 1 .", 0) == (True, 0)
    assert _scan_stmt_line("ex:s ex:p 1 . # done.", 0) == (True, 0)
    assert _scan_stmt_line('ex:s ex:p "a . b" .', 0) == (True, 0)
    assert _scan_stmt_line('ex:s ex:p "ends."', 0) == (False, 0)
    assert _scan_stmt_line('ex:s ex:p """open', 0) == (False, 1)
    assert _scan_stmt_line("inside . # not a comment", 1) == (False, 1)
    assert _scan_stmt_line('closed""" .', 1) == (True, 0)
    assert _scan_stmt_line("x''' ;", 2) == (False, 0)
    assert _scan_stmt_line('esc\\"""still open', 1) == (False, 1)


def test_scan_stmt_line_iriref_hash_and_quote(ttl=None):
    """ADVICE r12 high: '#' and apostrophes INSIDE <...> are literal
    IRI characters — fragment IRIs (<...ns#type>) must not be read as
    trailing comments (which silently merged consecutive statements),
    and an IRI apostrophe must not open a short string."""
    from razulibs_spark.sources.turtle_full import _scan_stmt_line

    ns = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    assert _scan_stmt_line(f"<http://e/s> {ns} <http://e/o> .", 0) == (True, 0)
    assert _scan_stmt_line("<http://e/s> <http://e/it's> <http://e/o> .", 0) == (True, 0)
    # '#' inside an IRI on a line that also carries a real trailing
    # comment after the terminator
    assert _scan_stmt_line(f"<http://e/s> {ns} <http://e/o> . # c", 0) == (True, 0)
    # '#' inside an IRI but the statement does NOT terminate here
    assert _scan_stmt_line(f"<http://e/s> {ns} <http://e/o> ;", 0) == (False, 0)
    # IRI-with-hash + a long-string opener on the same line
    assert _scan_stmt_line(f'<http://e/s> <http://e/p#f> """open', 0) == (False, 1)
    # a quote-free '#' line whose '#' is NOT inside an IRI is still a comment
    assert _scan_stmt_line("<http://e/s> <http://e/p> 1 # no dot", 0) == (False, 0)


def test_sharded_equals_per_file_reader(spark, tmp_path):
    """Equivalence invariant: for dump-compatible content — now
    including multi-line long strings, trailing comments, predicate
    lists and all literal forms — the SHARDED reader at forced splits
    and the per-file full-grammar reader must produce the same
    triples (bnode-free fixture so labels don't differ)."""
    from razulibs_spark.sources.turtle_full import (
        read_turtle_full,
        read_turtle_sharded,
    )

    body = ["@prefix ex: <http://example.org/> ."]
    for d in range(8):
        body.append(f"ex:s{d} ex:a {d} ;")
        body.append(f'  ex:b "v{d}" , "w{d}" ;')
        body.append(f"  ex:c {d}.5 . # done {d}.")
        body.append(f'ex:s{d} ex:note """line one {d}')
        body.append("two . three")
        body.append(f'four {d}""" .')
        body.append(f"ex:s{d} ex:flag true .")
    text = "\n".join(body) + "\n"
    p = tmp_path / "dump.ttl"
    p.write_text(text)
    sharded = {
        (r["s"], r["p"], r["o"], r["o_type"])
        for r in read_turtle_sharded(
            spark, str(p), min_partitions=8
        ).collect()
    }
    perfile = {
        (r["s"], r["p"], r["o"], r["o_type"])
        for r in read_turtle_full(spark, str(p)).collect()
    }
    assert sharded == perfile
    assert len(sharded) == 8 * 6
