"""Source-level lint for the query registry (VERDICT r3 #3).

Python silently accepts duplicate keys in a dict literal (last one
wins) and silently shadows a re-defined module-level function — both
bit us in round 3: a second ``q_pii_scrub`` def shadowed the first,
and a duplicate ``"pii_scrub"`` registry key made the family run
twice in bench while the driver attested the wrong implementation.
These tests parse the SOURCE, not the imported module, so the
collapsed-away duplicates are visible.
"""

import ast
import re
from pathlib import Path

import news_combinator_spark.plans.queries as q

SRC = Path(q.__file__).read_text()
TREE = ast.parse(SRC)


def _dict_literal_keys(var_name):
    for node in ast.walk(TREE):
        if (
            isinstance(node, ast.Assign)
            and any(
                isinstance(t, ast.Name) and t.id == var_name
                for t in node.targets
            )
            and isinstance(node.value, ast.Dict)
        ):
            return [
                k.value
                for k in node.value.keys
                if isinstance(k, ast.Constant)
            ]
    raise AssertionError(f"{var_name} dict literal not found")


def test_no_duplicate_registry_keys():
    keys = _dict_literal_keys("QUERIES")
    dupes = sorted({k for k in keys if keys.count(k) > 1})
    assert dupes == [], f"duplicate QUERIES keys: {dupes}"


def test_no_shadowed_module_level_defs():
    names = [
        n.name
        for n in TREE.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    dupes = sorted({n for n in names if names.count(n) > 1})
    assert dupes == [], f"shadowed module-level defs: {dupes}"


def test_registry_fits_the_attestation_window_and_loses_nothing():
    """The driver attests the first 50 registry entries, so at 50 or
    fewer every entry is attested; an addition past 50 fails here."""
    assert len(q.QUERIES) <= 50, len(q.QUERIES)
    assert _dict_literal_keys("QUERIES") == list(q.QUERIES)


def test_bench_families_unique_and_registered():
    import bench

    fams = bench.SQL_BENCH_QUERIES
    dupes = sorted({f for f in fams if fams.count(f) > 1})
    assert dupes == [], f"duplicate bench families: {dupes}"
    unknown = sorted(set(fams) - set(q.QUERIES))
    assert unknown == [], f"bench families not in registry: {unknown}"


def test_every_window_query_has_an_oracle_or_is_declared_rows_only():
    rows_only = {
        name
        for name, (_fn, sql) in q.QUERIES.items()
        if sql is None
    }
    # the contract-exempt set: sequential-consume clusterings only
    assert rows_only <= {"news_clusters_lsh", "v1_cross_source_clusters"}


def _coverage_registry_section():
    cov = (Path(__file__).resolve().parents[1] / "COVERAGE.md").read_text()
    return cov.split("\n## Registry\n", 1)[1].split("\n## ", 1)[0]


def test_coverage_table_matches_registry():
    """COVERAGE.md's Registry table has one row per registry entry:
    an entry added without a row (naming its SURVEY.md §2 row or
    marking it an engine addition), or a row left behind by a deleted
    entry, fails here."""
    section = _coverage_registry_section()
    names = [
        m.group(1)
        for m in re.finditer(r"^\| `([a-z0-9_]+)` \|", section, re.M)
    ]
    dupes = sorted({n for n in names if names.count(n) > 1})
    assert dupes == [], f"duplicate COVERAGE registry rows: {dupes}"
    keys = _dict_literal_keys("QUERIES")
    unlisted = sorted(set(keys) - set(names))
    stale = sorted(set(names) - set(keys))
    assert (unlisted, stale) == ([], []), (
        f"registry entries without a COVERAGE row: {unlisted}; "
        f"COVERAGE rows without a registry entry: {stale}"
    )


def test_coverage_registry_counts_sentence_matches_table():
    """COVERAGE.md's "N entries: X cite §2 rows, Y are next-diet
    candidates." sentence states the counts of its Registry table: a
    diet that deletes rows without restating the counts fails here."""
    section = _coverage_registry_section()
    m = re.search(
        r"^(\d+) entries: (\d+) cite §2 rows, (\d+) are next-diet "
        r"candidates\.$",
        section,
        re.M,
    )
    assert m, "Registry counts sentence not found in COVERAGE.md"
    rows = re.findall(r"^\| `[a-z0-9_]+` \| (.+?) \|$", section, re.M)
    candidates = sum(
        r == "engine addition: next-diet candidate" for r in rows
    )
    stated = tuple(int(g) for g in m.groups())
    assert stated == (len(rows), len(rows) - candidates, candidates)


def _survey_section2_rows():
    survey = (Path(__file__).resolve().parents[1] / "SURVEY.md").read_text()
    section = survey.split("\n## 2.", 1)[1].split("\n## 3.", 1)[0]
    return set(re.findall(r"^\| ([A-Z]+\d+) \|", section, re.M))


def _expand_citation(token):
    """'C3' -> ['C3']; 'C1-C5' -> ['C1', ..., 'C5']; anything else
    (a typo, a free-text note outside parentheses) -> None."""
    m = re.fullmatch(r"([A-Z]+)(\d+)(?:-([A-Z]+)(\d+))?", token)
    if not m:
        return None
    prefix, lo, end_prefix, hi = m.groups()
    if end_prefix is None:
        return [token]
    if end_prefix != prefix or int(hi) <= int(lo):
        return None
    return [f"{prefix}{i}" for i in range(int(lo), int(hi) + 1)]


def test_registry_citations_are_survey_rows():
    """The keep rule, machine-checked: every Registry row that is not
    a next-diet candidate cites at least one SURVEY.md §2 row, and
    every row id it cites (ranges such as C1-C5 expanded) is a row of
    §2's tables. Parenthesised notes after the ids are ignored."""
    rows = _survey_section2_rows()
    assert {"S1", "C5", "F12"} <= rows, sorted(rows)
    section = _coverage_registry_section()
    bad = []
    for name, cite in re.findall(
        r"^\| `([a-z0-9_]+)` \| (.+?) \|$", section, re.M
    ):
        if cite == "engine addition: next-diet candidate":
            continue
        tokens = [t.strip() for t in re.sub(r"\([^)]*\)", "", cite).split(",")]
        ids = [_expand_citation(t) for t in tokens if t]
        if not ids or None in ids:
            bad.append((name, cite))
            continue
        unknown = sorted({i for group in ids for i in group} - rows)
        if unknown:
            bad.append((name, unknown))
    assert bad == [], f"Registry rows citing no valid §2 row: {bad}"
