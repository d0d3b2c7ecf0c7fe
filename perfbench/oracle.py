"""Output checks, run outside the timed windows.

* χ² answers are recomputed independently in DuckDB from the generator's
  record of every well-formed input line, with the same semantics the
  program documents (lowercase, split on the delimiter class, 1 < length
  < 50, stopwords out, per-document distinct; the χ² expression in the same
  IEEE-754 operation order; rank by χ² desc, term asc).
* Registry outputs are compared with each query's own DuckDB oracle SQL:
  columns by name, rows as a multiset, values exactly.
"""
import glob

import duckdb

DELIM_SQL = r"""[\s\d()\[\]{}.!?,;:+=\-_"''`~#@&*%€$§\\/]+"""
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
             "for", "on", "with", "as", "at", "by", "this", "that", "be", "are"]
_A, _B, _C, _N = ("CAST(a AS DOUBLE)", "CAST(b AS DOUBLE)", "CAST(c AS DOUBLE)",
                  "CAST(n AS DOUBLE)")
CHI2_SQL = (f"CASE WHEN ({_A}+b)*({_A}+c)*({_B}+d)*({_C}+d) = 0 THEN 0.0 "
            f"ELSE {_N} * ({_A}*d - {_B}*c) * ({_A}*d - {_B}*c) "
            f"/ (({_A}+b)*({_A}+c)*({_B}+d)*({_C}+d)) END")


def _connect():
    con = duckdb.connect()
    con.execute("SET threads=4")
    return con


def chi2_top(truth_files, k):
    """[(category, term, chi2, rank)] of the top-k terms per category."""
    stop = ",".join(f"'{w}'" for w in STOPWORDS)
    files = ",".join(f"'{f}'" for f in truth_files)
    sql = f"""
    WITH docs AS (
      SELECT doc_id, lang AS category, lower(text) AS t
      FROM read_parquet([{files}])
      WHERE text IS NOT NULL AND length(text) > 0
        AND lang IS NOT NULL AND length(lang) > 0
    ), tok AS (
      SELECT DISTINCT doc_id, category, term FROM (
        SELECT doc_id, category, unnest(regexp_split_to_array(t, '{DELIM_SQL}')) AS term
        FROM docs)
      WHERE length(term) > 1 AND length(term) < 50 AND term NOT IN ({stop})
    ), term_cat AS (
      SELECT term, category, count(*) AS a FROM tok GROUP BY 1, 2
    ), cont AS (
      SELECT tc.category, tc.term, tc.a,
             tt.t_total - tc.a AS b, cd.c_total - tc.a AS c,
             nt.n - tt.t_total - cd.c_total + tc.a AS d, nt.n
      FROM term_cat tc
      JOIN (SELECT term, CAST(sum(a) AS BIGINT) AS t_total FROM term_cat GROUP BY 1) tt USING (term)
      JOIN (SELECT category, count(*) AS c_total FROM docs GROUP BY 1) cd USING (category)
      CROSS JOIN (SELECT count(*) AS n FROM docs) nt
    ), ranked AS (
      SELECT category, term, {CHI2_SQL} AS chi2,
             row_number() OVER (PARTITION BY category ORDER BY {CHI2_SQL} DESC, term ASC) AS rank
      FROM cont
    )
    SELECT category, term, chi2, rank FROM ranked WHERE rank <= {k}
    ORDER BY category, rank"""
    return _connect().execute(sql).fetchall()


def check_lines(out_dir, expected):
    """The text sink's lines against the recomputed top-k: one line per
    category in category order (`<category> term:chi2 …` by rank, χ² to six
    decimals), then the sorted dictionary of selected terms."""
    lines = []
    for f in sorted(glob.glob(f"{out_dir}/part-*")):
        with open(f, encoding="utf-8") as fh:
            lines.extend(fh.read().splitlines())
    by_cat = {}
    for cat, term, chi2, _ in expected:
        by_cat.setdefault(cat, []).append((term, chi2))
    cats = sorted(by_cat)
    if len(lines) != len(cats) + 1:
        return f"{len(lines)} lines, expected {len(cats) + 1}"
    for line, cat in zip(lines, cats):
        if not line.startswith(cat + " "):
            return f"line for {cat!r} reads {line[:60]!r}"
        items = line[len(cat) + 1:].split(" ")
        want = by_cat[cat]
        if len(items) != len(want):
            return f"{cat}: {len(items)} terms, expected {len(want)}"
        for item, (term, chi2) in zip(items, want):
            t, _, v = item.rpartition(":")
            # %.6f rounds half-up in Java: allow the last printed digit.
            if t != term or abs(float(v) - chi2) > 1.000001e-6:
                return f"{cat}: {item!r}, expected {term}:{chi2:.6f}"
    dictionary = " ".join(sorted({t for _, t, _, _ in expected}))
    if lines[-1] != dictionary:
        return "dictionary line differs"
    return None


def check_registry(fixture, outputs, oracle_sql):
    """{query: output dir} -> {query: None or the mismatch}."""
    con = _connect()
    for f in glob.glob(f"{fixture}/*.parquet"):
        name = f.rsplit("/", 1)[1][:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    result = {}
    for name, out in outputs.items():
        sql = oracle_sql.get(name)
        if sql is None:
            result[name] = "no oracle SQL"
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')")
            gcols = sorted(d[0] for d in got.description)
            want = con.execute(f"SELECT * FROM ({sql})")
            wcols = sorted(d[0] for d in want.description)
            if gcols != wcols:
                result[name] = f"columns {gcols} != {wcols}"
                continue
            cols = ", ".join(f'"{c}"' for c in gcols)
            g = f"SELECT {cols} FROM read_parquet('{out}/*.parquet')"
            w = f"SELECT {cols} FROM ({sql})"
            n_got, n_want = (con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0] for q in (g, w))
            diff = con.execute(f"SELECT count(*) FROM (({g}) EXCEPT ALL ({w}))").fetchone()[0]
            if n_got != n_want:
                result[name] = f"{n_got} rows, expected {n_want}"
            elif diff:
                result[name] = f"{diff} of {n_got} rows differ"
            else:
                result[name] = None
        except duckdb.Error as e:
            result[name] = f"{type(e).__name__}: {e}"[:300]
    return result
