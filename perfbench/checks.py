"""Outside oracles, run after the benchmark process exits.

kg_commit: the repository's own DuckDB oracle (`Kg.canonicalTriplesOracle`,
dumped by the run) over the generated parquet, compared as a multiset with
the triples the Materializer committed.

integrate_script: the script's CONSTRUCT and SELECT results recomputed in
DuckDB from the generated quads, compared line for line (as multisets)
with the `-o` file and the SELECT table.
"""
import collections

import duckdb

EX = "http://ex.org/"
FOAF = "http://xmlns.com/foaf/0.1/"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"


def _diff(expected, got, what):
    exp, out = collections.Counter(expected), collections.Counter(got)
    missing = sum((exp - out).values())
    extra = sum((out - exp).values())
    if missing or extra:
        sample = list((exp - out).elements())[:2] + list((out - exp).elements())[:2]
        return [f"{what}: {missing} expected rows missing, {extra} unexpected; e.g. {sample}"]
    return []


def check_kg(in_dir, artifacts):
    con = duckdb.connect()
    try:
        for t in ("events", "documents", "nation"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{in_dir}/{t}.parquet')")
        with open(artifacts["oracle_sql"]) as f:
            oracle = f.read()
        expected = con.execute(f"SELECT subj, pred, obj, graph FROM ({oracle})").fetchall()
        got = con.execute(
            "SELECT subj, pred, obj, graph FROM read_parquet("
            f"'{artifacts['triples']}/*/*.parquet', hive_partitioning = true)").fetchall()
    finally:
        con.close()
    return _diff(expected, got, "kg_commit triples vs DuckDB oracle")


def check_integrate(in_dir, artifacts):
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW q AS SELECT * FROM read_parquet('{in_dir}/quads.parquet')")

        def p(pred, name):
            con.execute(f"CREATE VIEW {name} AS SELECT subj AS s, obj AS o "
                        f"FROM q WHERE pred = '{pred}'")
        p(RDF_TYPE, "typ")
        p(f"<{FOAF}name>", "nm")
        p(f"<{EX}age>", "age")
        p(f"<{EX}worksFor>", "wf")
        p(f"<{EX}locatedIn>", "loc")
        p(f"<{EX}country>", "ctry")
        p(f"<{FOAF}knows>", "knows")
        p(f"<{EX}email>", "mail")
        person = f"<{EX}Person>"
        rows = con.execute(f"""
          WITH star AS (
            SELECT t.s AS p, n.o AS n, a.o AS a, w.o AS o FROM typ t
            JOIN nm n ON n.s = t.s JOIN age a ON a.s = t.s JOIN wf w ON w.s = t.s
            WHERE t.o = '{person}')
          SELECT p || ' <{EX}profileName> ' || n || ' .' FROM star
          UNION ALL SELECT p || ' <{EX}profileAge> ' || a || ' .' FROM star
          UNION ALL SELECT p || ' <{EX}employer> ' || o || ' .' FROM star
          UNION ALL SELECT w.s || ' <{EX}basedIn> ' || c.o || ' .'
            FROM wf w JOIN loc l ON l.s = w.o JOIN ctry c ON c.s = l.o
          UNION ALL SELECT k.s || ' <{EX}colleague> ' || k.o || ' .'
            FROM knows k JOIN wf a ON a.s = k.s JOIN wf b ON b.s = k.o AND b.o = a.o
          UNION ALL SELECT t.s || ' <{EX}contact> ' || m.o || ' .'
            FROM typ t JOIN mail m ON m.s = t.s WHERE t.o = '{person}'
        """).fetchall()
        table = con.execute(f"""
          SELECT o || chr(9) || CAST(count(*) AS VARCHAR) FROM wf GROUP BY o
        """).fetchall()
    finally:
        con.close()
    with open(artifacts["quads"], encoding="utf-8") as f:
        got = f.read().splitlines()
    with open(artifacts["table"], encoding="utf-8") as f:
        got_table = f.read().splitlines()
    errors = _diff([r[0] for r in rows], got, "integrate_script -o quads vs DuckDB")
    errors += _diff(["?o\t?staff"] + [r[0] for r in table], got_table,
                    "integrate_script SELECT table vs DuckDB")
    return errors


CHECKS = {"kg_commit": check_kg, "integrate_script": check_integrate}
