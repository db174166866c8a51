"""Gated query: replay a fixed set of the reference's own CLI test cases
through the golden harness and return (name, output) rows; the DuckDB
oracle embeds the byte-exact golden files (/root/reference/tests/output/),
so the driver's hash compare IS golden-output equality for the expression
surface (VERDICT r3 task 1's hard-signal form).

The case list is a stable, fast subset spanning the -e surface: paths,
follow chains, siblings, patterns, variables, weak-typed arithmetic
(±INF/NaN/−0 matrices), modules, declares, JSON literals. The full-corpus
meter is tools/golden_report.py + tests/test_reference_goldens.py.
"""

from __future__ import annotations

from pathlib import Path

REF = Path("/root/reference")

# (golden name, tests.sh line) — first PASSING invocation per golden; the
# line pins WHICH invocation when a golden has several
GOLDEN_CASES = [
    "te", "texml", "tfe", "tfe2", "tef", "tefe", "direct", "novar", "novar2",
    "var1", "var2", "var3", "varmix", "varmixb",
    "sibling1a", "sibling1d", "sibling2", "sibling3a", "sibling4",
    "2urls", "2urls2read", "levelcloned", "maxlevel2", "repetitionoff",
    "adhoc1", "adhoc3", "adhoc5", "adhoc6", "adhoc8", "adhoc9",
    "xml1", "json3", "bash3", "cmd3", "xmlraw1", "htmlraw1",
    "utf8", "addition", "division", "multiplication", "subtraction",
    "xpath8", "xpath10", "xquery6", "nest4", "nest5b", "nest9b", "nest9c",
    "moduleVars", "moduleFunc1", "moduleFuncImport", "moduleFuncImportRel",
    "varenviron3", "jsonreassign", "multipage", "multipage2",
    "jsonmode/default-literals", "regression_entity3b", "regression_htmlparse",
    "dtd-broken",
    # round-5 widening (VERDICT r4 task 5): the network replay family —
    # request-tuple dedup (post4b/post4c are the canonical pins), methods,
    # headers, multipart, multipage-online, follow objects
    "get1", "post1a", "post1b", "post2", "post3", "post3b", "post3c",
    "post4", "post4b", "post4c", "post4d", "post5", "post6", "post6b",
    "post6c", "post7", "post8", "put1a", "put1b", "foobarmeth",
    "foobarmeth2", "headers", "multipart1", "multipart2",
    "multipageonline", "multipageonline2", "regression_doconline",
    "varurlhostpath", "followCustomErrorHandling",
    # jsonmode matrix (4 modes x 7 surfaces)
    "jsonmode/default", "jsonmode/default-boolean",
    "jsonmode/default-dotnotation", "jsonmode/default-equals",
    "jsonmode/default-null", "jsonmode/default-stringvalue",
    "jsonmode/deprecated", "jsonmode/deprecated-boolean",
    "jsonmode/deprecated-dotnotation", "jsonmode/deprecated-equals",
    "jsonmode/deprecated-literals", "jsonmode/deprecated-null",
    "jsonmode/deprecated-stringvalue",
    "jsonmode/jsoniq", "jsonmode/jsoniq-boolean",
    "jsonmode/jsoniq-dotnotation", "jsonmode/jsoniq-equals",
    "jsonmode/jsoniq-literals", "jsonmode/jsoniq-null",
    "jsonmode/jsoniq-stringvalue",
    "jsonmode/standard", "jsonmode/standard-boolean",
    "jsonmode/standard-dotnotation", "jsonmode/standard-equals",
    "jsonmode/standard-literals", "jsonmode/standard-null",
    "jsonmode/standard-stringvalue",
    # numeric error-model matrices + json mutation
    "divisionInt", "modulo", "jsonassign", "jsonassignarray",
    "jsonmultiassign",
    # multipage control flow incl. the round-5 try/catch matrix
    "multipage3", "multipage4", "multipageChoose", "multipageChoose3",
    "multipageChoose4", "multipageChooseO1", "multipageChooseO2",
    "multipageChooseO3", "multipageIf0", "multipageIf1", "multipageShort",
    "multipageShortF", "multipageTry", "multipageTryHttp",
    "multipageVariable",
    # depth limits, siblings, stdin, patterns, var logs, modules
    "maxlevel0", "maxlevel1", "maxlevel3", "sibling1b", "sibling1c",
    "sibling1e", "sibling2b", "sibling3b", "sibling3c",
    "stdin1", "stdin2", "template", "t1",
    "varlogAB", "varlogAC", "varlogBC", "varresult", "varraw",
    "varenviron", "varenviron2", "varnoenviron",
    "moduleFunc2", "moduleFuncImport2", "moduleFuncImportGlobalMut",
    "moduleFuncImportGlobalMut2", "moduleFuncImportGlobalMut3",
    # output-format matrix slices + separators + declarations
    "adhoc-json", "adhoc11", "bash-escape7", "bash-json", "cmd7",
    "html-json", "json9b", "json10", "xml2-json", "xmlraw9b", "xmlraw11",
    "htmlraw5c", "separator-adhoc", "separator-xml", "separator-html",
    "linebreaksXMLElementNodes-Decl-Indent",
    "linebreaksHTMLOutput-NoDecl-Indent",
    # round-5 straggler closures + parser edges
    "regression_text1a", "regression_text1c", "regression_text1d",
    "regression_text1e", "regression_multipage3", "regression_multipage3b",
    "regression_doclocal", "regression_object1", "regression_object2",
    "regression_mutablevariable1", "regression_mutablevariable2",
    "pinode-xml", "pinode-xml-strict", "dtd-working", "encodingJson",
    "inputformatAutoJson", "namespace1", "namespace2", "eval",
    "xquery5", "xquerypath", "css", "css2",
]


def _cases():
    from .harness import parse_tests_sh

    all_cases = parse_tests_sh(REF / "tests/tests.sh")
    by_name: dict[str, object] = {}
    for c in all_cases:
        by_name.setdefault(c.name, c)  # first invocation wins
    return [(n, by_name[n]) for n in GOLDEN_CASES if n in by_name]


def q_expr_goldens(spark, sf_dir: str):
    """run each case through the harness; rows (name, output)."""
    from .harness import Skip, run_case

    rows = []
    for name, case in _cases():
        try:
            out = run_case(spark, case, REF)
        except Skip as e:  # pragma: no cover — a skip here is a red row
            out = f"<<skip: {e}>>"
        rows.append((name, out))
    return (
        spark.createDataFrame(rows, "name string, output string")
        .orderBy("name")
    )


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def expr_goldens_oracle() -> str:
    """DuckDB VALUES of the byte-exact golden files. Without the reference
    tree the oracle is a query that fails naming the missing path, so only
    this gate fails and every other gate still runs."""
    parts = []
    try:
        for name, _case in _cases():
            txt = (REF / "tests/output" / name).read_text()
            parts.append(f"({_sql_str(name)}, {_sql_str(txt)})")
    except FileNotFoundError as e:
        return f"SELECT error({_sql_str(f'expr_goldens: reference file missing: {e.filename}')})"
    return (
        "SELECT name, output FROM (VALUES "
        + ", ".join(parts)
        + ") AS t(name, output) ORDER BY name"
    )


GOLDEN_QUERIES = {"expr_goldens": q_expr_goldens}
