"""Output checks, run after the timed loop.

GEDCOM conversions are checked against the generator's ledger; registry
queries against their DuckDB oracle (the approximate ones against a recall
bound taken from the exact oracle answer); graph queries against the
ledger's family truth. No check compares against a stored copy of an
earlier output.
"""
import csv
import glob
import os
from collections import Counter

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

from gen_gedcom import TAGS

# LSH candidate generation may miss pairs; the cosine verify admits no
# false ones. Bound on the share of the exact answer's rows found.
APPROXIMATE = {"q99_embed_dedup_clusters": ("vec_id", 0.95)}


# ----------------------------------------------------------------- GEDCOM

def _read_csv_dir(d):
    """(header, table of strings) over every part file of one output dir;
    raises when a row's column count differs from its header's."""
    header, tables = None, []
    for f in sorted(glob.glob(os.path.join(d, "part-*.csv"))):
        with open(f, newline="", encoding="utf-8") as fh:
            first = next(csv.reader(fh), None)
        if first is None:
            continue
        if header is None:
            header = first
        elif first != header:
            raise ValueError(f"{f}: header differs between part files")
        t = pacsv.read_csv(
            f, read_options=pacsv.ReadOptions(column_names=header, skip_rows=1),
            parse_options=pacsv.ParseOptions(newlines_in_values=True),
            convert_options=pacsv.ConvertOptions(
                column_types={c: pa.string() for c in header},
                strings_can_be_null=False, quoted_strings_can_be_null=False))
        tables.append(t)
    if header is None:
        return None, None
    return header, pa.concat_tables(tables) if tables else None


def check_conversion(out, ledger):
    """None when the CSVs match the ledger, else the first difference."""
    try:
        tags = {os.path.basename(d)[len("nodes-"):]
                for d in glob.glob(os.path.join(out, "nodes-*"))}
        if tags != set(ledger["nodes"]):
            return f"node tags {sorted(tags)} != {sorted(ledger['nodes'])}"
        for tag in sorted(tags):
            header, t = _read_csv_dir(os.path.join(out, f"nodes-{tag}"))
            if header != ledger["headers"][tag]:
                return f"nodes-{tag} header {header} != {ledger['headers'][tag]}"
            n = t.num_rows if t is not None else 0
            if n != ledger["nodes"][tag]:
                return f"nodes-{tag}: {n} rows != {ledger['nodes'][tag]}"
            sample = {x: s["props"] for x, s in ledger["sample"].items() if s["tag"] == tag}
            if sample:
                ids = t.column("Gedcom Id:ID").to_pylist()
                rows = {x: i for i, x in enumerate(ids) if x in sample}
                for x, props in sample.items():
                    if x not in rows:
                        return f"nodes-{tag}: record {x} missing"
                    i = rows[x]
                    for c in header:
                        got = t.column(c)[i].as_py().strip()
                        want = props.get(c, "").strip()
                        if got != want:
                            return f"nodes-{tag} {x}[{c}] = {got!r}, expected {want!r}"
        rel = os.path.join(out, "relationships")
        etags = {os.path.basename(d)[len("rawTag="):]
                 for d in glob.glob(os.path.join(rel, "rawTag=*"))}
        if etags != set(ledger["edges"]):
            return f"edge tags {sorted(etags)} != {sorted(ledger['edges'])}"
        for tag in sorted(etags):
            header, t = _read_csv_dir(os.path.join(rel, f"rawTag={tag}"))
            if header != [":START_ID", ":END_ID", ":TYPE"]:
                return f"relationships {tag} header {header}"
            n = t.num_rows if t is not None else 0
            if n != ledger["edges"][tag]:
                return f"relationships {tag}: {n} rows != {ledger['edges'][tag]}"
            if n and set(t.column(":TYPE").unique().to_pylist()) != {TAGS[tag]}:
                return f"relationships {tag}: wrong :TYPE"
        return None
    except Exception as e:  # unreadable or misaligned output
        return f"{type(e).__name__}: {e}"


# ---------------------------------------------------------------- queries

def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        dt = str(df[c].dtype)
        if dt.startswith("datetime64"):
            df[c] = df[c].astype("datetime64[ns]")
        elif dt in ("int8", "int16", "int32", "uint8", "uint16", "uint32"):
            df[c] = df[c].astype("int64")
        elif dt in ("Int8", "Int16", "Int32", "Int64") and not df[c].isna().any():
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _read_result(path):
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        return None
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


class QueryChecker:
    def __init__(self, sf_dir, oracle_sql, family):
        self.con = duckdb.connect()
        for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
            t = os.path.basename(p)[:-len(".parquet")]
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        self.sql, self.family = oracle_sql, family
        self.expected = {}

    def _oracle(self, name):
        if name not in self.expected:
            self.expected[name] = _norm(self.con.execute(self.sql[name]).df())
        return self.expected[name]

    def check(self, name, out):
        try:
            got = _read_result(out)
            if got is None:
                return "no result written"
            if name in self.sql:
                return self._registry(name, got)
            return self._graph(name, got)
        except Exception as e:
            return f"{type(e).__name__}: {e}"

    def _registry(self, name, got):
        want = self._oracle(name)
        got = _norm(got)
        if list(got.columns) != list(want.columns):
            return f"columns {list(got.columns)} != {list(want.columns)}"
        if name in APPROXIMATE:
            key, bound = APPROXIMATE[name]
            g, w = set(got[key]), set(want[key])
            if not g <= w:
                return f"{len(g - w)} rows outside the exact answer"
            recall = len(g) / max(1, len(w))
            return None if recall >= bound else f"recall {recall:.3f} < {bound}"
        if len(got) != len(want):
            return f"rows {len(got)} != {len(want)}"
        pd.testing.assert_frame_equal(got, want, check_dtype=True, check_exact=True)
        return None

    def _graph(self, name, got):
        fam = self.family
        kind = name.split(":", 1)[0]
        if kind == "nodesWide":
            tag = name.split(":", 1)[1]
            led = fam["ledger"]
            if list(got.columns) != led["headers"][tag]:
                return f"columns {list(got.columns)} != {led['headers'][tag]}"
            if len(got) != led["nodes"][tag]:
                return f"rows {len(got)} != {led['nodes'][tag]}"
            byid = got.set_index("Gedcom Id:ID") if "Gedcom Id:ID" in got else None
            for x, s in led["sample"].items():
                if s["tag"] != tag or byid is None:
                    continue
                row = byid.loc[x]
                for c in got.columns:
                    if c == "Gedcom Id:ID":
                        continue
                    v = row[c]
                    v = "" if v is None or (isinstance(v, float) and pd.isna(v)) else v
                    if v != s["props"].get(c, ""):
                        return f"{x}[{c}] = {v!r}, expected {s['props'].get(c, '')!r}"
            return None
        truth = fam["family"]
        if kind == "ancestorsOf":
            g = dict(zip(got["xref"], got["generation"]))
            return None if g == truth["ancestors"] else f"ancestors {len(g)} != {len(truth['ancestors'])}"
        if kind == "familyClusters":
            sizes = sorted(Counter(got["component"]).values())
            return None if sizes == truth["component_sizes"] else \
                f"{len(sizes)} components != {len(truth['component_sizes'])}"
        if kind == "degrees":
            if len(got) != truth["vertices"] or int(got["out_degree"].sum()) != truth["edges"]:
                return f"{len(got)} vertices / {got['out_degree'].sum()} edges"
            byx = got.set_index("xref")
            for x, (i, o) in truth["degree_sample"].items():
                r = byx.loc[x]
                if (r["in_degree"], r["out_degree"], r["degree"]) != (i, o, i + o):
                    return f"degree of {x}"
            return None
        if kind == "summary":
            led = fam["ledger"]
            want = ([("node", k, v) for k, v in led["nodes"].items()]
                    + [("node_key", k, v) for k, v in led["key_counts"].items()]
                    + [("edge", k, v) for k, v in led["rel_types"].items()]
                    + [("skipped", k, v) for k, v in led["skipped"].items()]
                    + [("unused_tag", k, 1) for k in led["unused"]]
                    + [("missing_temple", k, 1) for k in led["missing_temples"]])
            g = sorted(zip(got["section"], got["name"], got["n"].astype(int)))
            return None if g == sorted(want) else "summary differs from the ledger"
        return f"unknown graph query {name}"
