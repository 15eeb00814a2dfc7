"""Seeded GEDCOM generator and the ledger of what each file must produce.

A file is a header, a submitter, one or more copies of a family-tree
chunk, a custom (unmapped) record and the trailer. Each chunk draws its
own profile from the seed: record mix, properties per record, note length,
nesting depth, temple ordinances with known and unknown codes, unused
tags and dangling pointers. Copies of a chunk differ only in their xref
prefix, so a large file costs one chunk's generation and the ledger scales
by the copy count.

The ledger is computed here, from the generator's own record trees, by
`flatten` below: an independent statement of the reference's
record-to-node rules (lib/csv_writer.js), kept to the tags this generator
emits. It lists node rows, header columns and property-key counts per tag,
edges per raw tag and per relationship type, skipped records, unused tags,
missing temple codes, expected property maps for a seeded sample of
records, and the family truth (ancestors, components and degrees) the
graph queries are checked against.
"""
import codecs
import random
from collections import Counter, defaultdict

# Reference tag labels (const/tags.js) for the tags this generator emits.
TAGS = {
    "HEAD": "Header", "SOUR": "Source", "VERS": "Version", "GEDC": "Gedcom",
    "FORM": "Format", "CHAR": "Character", "SUBM": "Submitter", "DATE": "Date",
    "FILE": "File", "NAME": "Name", "ADDR": "Address", "PHON": "Phone",
    "LANG": "Language", "REPO": "Repository", "ADR1": "Address Line 1",
    "CITY": "City", "STAE": "State", "POST": "Postal Code", "CTRY": "Country",
    "TITL": "Title", "AUTH": "Author", "PUBL": "Publication",
    "ABBR": "Abbreviation", "CALN": "Call Number", "TEXT": "Text",
    "NOTE": "Note", "OBJE": "Object", "_PRIM": "Primary Object is Multimedia",
    "_TYPE": "File Type", "INDI": "Individual", "GIVN": "Given Name",
    "SURN": "Surname", "_MARNM": "Married Name", "SEX": "Sex", "BIRT": "Birth",
    "PLAC": "Place", "PAGE": "Page", "QUAY": "Quality of Data",
    "CHR": "Child Christening", "DEAT": "Death", "CAUS": "Cause",
    "BURI": "Burial", "RESI": "Residence", "OCCU": "Occupation",
    "EDUC": "Education", "EVEN": "Event", "TYPE": "Type",
    "FAMS": "Spouse in Family", "FAMC": "Child in Family", "PEDI": "Pedigree",
    "DATA": "Data", "BAPL": "LDS Baptism", "ENDL": "LDS Endowment",
    "SLGC": "Sealing to Parents", "TEMP": "Temple",
    "_UID": "Universally Unique ID", "_PRIMARY": "Primary",
    "_ITALIC": "Print in Italics", "ASSO": "Associates", "RELA": "Relationship",
    "FAM": "Family", "HUSB": "Husband", "WIFE": "Wife", "CHIL": "Child",
    "MARR": "Marriage", "DIV": "Divorce", "SLGS": "Sealing to Spouse",
    "NCHI": "Number of Children", "TRLR": "Trailer", "NICK": "Nickname",
}
BOOLEAN_TAGS = {"_DESC_FLAG", "_ITALIC", "_LDS", "_MASTER", "_NONE", "_PAREN",
                "_PRIM", "_PRIMARY"}
# Reference temple table (const/temples.js), the codes used here.
TEMPLES = {"SLAKE": "Salt Lake City Utah", "PROVO": "Provo Utah",
           "LOGAN": "Logan Utah", "MANTI": "Manti Utah",
           "SGEOR": "St. George Utah", "LANGE": "Los Angeles California",
           "IFALL": "Idaho Falls Idaho", "OGDEN": "Ogden Utah"}
UNKNOWN_TEMPLES = ["NOWHERE", "XQZ1", "OLDSB", "TMPL9"]
UNUSED_TAGS = ["_FOO", "BOGUS", "EMAIL", "_MILT"]
CUSTOM_RECORD = "_TODO"

GIVEN = ["John", "Mary", "Wei", "Amara", "Olga", "Luis", "Aino", "Kofi",
         "Sven", "Ana", "Yuki", "Omar", "Ines", "Raj", "Lena", "Tomas"]
SURNAMES = ["Smith", "Jones", "Garcia", "Chen", "Okafor", "Ivanov", "Berg",
            "Silva", "Tanaka", "Haddad", "Novak", "Moreau"]
PLACES = ["Springfield", "Riverton", "Portsmouth", "Oslo", "Lyon, France",
          "Accra", "Kyoto", "Cork, Ireland"]
OCCUPATIONS = ["farmer", "miller", "teacher", "clerk", "smith", "weaver",
               "sailor", "nurse"]
EVENT_TYPES = ["Graduation", "Military Service", "Emigration Notice", "Award"]
WORDS = ("the of family record parish register letter census village church "
         "harbor mill farm school baptism witness land deed will copy "
         "transcribed from original entry").split()
MONTHS = ["JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL", "AUG", "SEP",
          "OCT", "NOV", "DEC"]
PREFIX = "~"  # xref prefix placeholder, replaced per chunk copy


class Node:
    __slots__ = ("tag", "value", "children", "xref")

    def __init__(self, tag, value="", children=None, xref=None):
        self.tag, self.value, self.xref = tag, value, xref
        self.children = children if children is not None else []

    def add(self, tag, value="", *children):
        n = Node(tag, value, list(children))
        self.children.append(n)
        return n


# ---------------------------------------------------------------- flatten

def flatten(rec):
    """(label or None, props, edges, unused tags, missing temple codes)."""
    label = TAGS.get(rec.tag)
    if label is None:
        return None, {}, [], [], []
    edges, unused, missing = [], [], []

    def to_node(node, include_id):
        out = {}
        if include_id and node.xref:
            out["Gedcom Id:ID"] = node.xref
        for ch in node.children:
            mapped = TAGS.get(ch.tag)
            if mapped is None:
                unused.append(ch.tag)
                continue
            key = mapped
            if ch.value != "" or not ch.children:
                if ch.value.startswith("@"):
                    if rec.xref:
                        edges.append((rec.xref, ch.value.replace("@", ""), key, ch.tag))
                else:
                    _transform(out, ch.tag, key, ch.value, missing)
            if ch.children:
                sub = to_node(ch, False)
                if key == "Event":
                    key = sub.pop("Type", "undefined")
                for ck, cv in sub.items():
                    out[f"{key} {ck}"] = cv
        return out

    props = to_node(rec, True)
    if props:
        props[":LABEL"] = label
    return label, props, edges, sorted(set(unused)), sorted(set(missing))


def _transform(out, tag, key, value, missing):
    if tag in BOOLEAN_TAGS:
        out[key] = "True" if value else "False"
    elif tag == "PLAC":
        out[key] = TEMPLES[value] + " Temple" if value in TEMPLES else value
    elif tag == "TEMP":
        if value in TEMPLES:
            out[key] = TEMPLES[value]
        else:
            missing.append(value)
            out[key] = value
    elif tag == "NAME":
        if "/" in value:
            pieces = value.split("/")
            if pieces[0].strip():
                out["Given Name"] = pieces[0]
            if len(pieces) > 1 and pieces[1].strip():
                out["Surname"] = pieces[1]
        else:
            out["Given Name"] = value
        out[key] = value
    else:
        out[key] = value


def node_columns(keys):
    """CSV header order: id first, properties sorted, label last."""
    head = ["Gedcom Id:ID"] if "Gedcom Id:ID" in keys else []
    return head + sorted(keys - {"Gedcom Id:ID", ":LABEL"}) + [":LABEL"]


# ------------------------------------------------------------- serialize

def serialize(rec, out, width):
    """GEDCOM lines of one record; long or multi-line values are written as
    CONC/CONT continuations of at most `width` characters per piece."""
    def emit(level, node, xref=None):
        head = f"{level} @{xref}@ {node.tag}" if xref else f"{level} {node.tag}"
        parts = node.value.split("\n")
        first = parts[0]
        out.append(f"{head} {first[:width]}" if first else head)
        for k in range(width, len(first), width):
            out.append(f"{level + 1} CONC {first[k:k + width]}")
        for p in parts[1:]:
            out.append(f"{level + 1} CONT {p[:width]}" if p else f"{level + 1} CONT")
            for k in range(width, len(p), width):
                out.append(f"{level + 1} CONC {p[k:k + width]}")
        for ch in node.children:
            emit(level + 1, ch)
    emit(0, rec, rec.xref)


# ----------------------------------------------------------------- chunks

def _profile(i, n, offset):
    """Knobs of chunk i of n: how rich records are, how long notes run,
    how values are split and nested. The knobs sit on a fixed
    low-discrepancy grid over their ranges (shifted by `offset` per file),
    so every seed covers the same spread of profiles; the seed draws the
    records."""
    def u(k):
        return ((i + 0.5) / n + 0.381966 * k + 0.7548776 * offset) % 1.0
    return {
        "facts": 0.35 + 0.6 * u(0),             # chance of each optional fact
        "note_words": 4 + round(56 * u(1)),     # note length
        "width": (60, 120, 248)[int(3 * u(2))],  # CONC split width
        "depth": 1 + int(3 * u(3)),             # citation nesting depth
        "lds": 0.5 * u(4),                      # temple ordinance share
        "generations": 4 + int(4 * u(5)),
        "founders": 3 + int(6 * u(6)),
    }


def _date(rng):
    d = f"{rng.randint(1, 28)} {rng.choice(MONTHS)} {rng.randint(1700, 1990)}"
    return rng.choice(["", "ABT ", "BEF ", "AFT "]) + d if rng.random() < 0.2 else d


def _words(rng, n):
    return " ".join(rng.choice(WORDS) for _ in range(n))


def make_chunk(rng, pf):
    """One family-tree chunk of profile `pf`: records with xrefs `~I1`,
    `~F1`, ... Returns (records, parents) where parents maps a child's xref
    to its parents' xrefs."""
    p = pf["facts"]
    recs, indis, fams = [], [], []
    n = Counter()

    def xref(kind):
        n[kind] += 1
        return f"{PREFIX}{kind}{n[kind]}"

    repos = []
    for _ in range(rng.randint(1, 3)):
        r = Node("REPO", xref=xref("R"))
        r.add("NAME", f"{rng.choice(SURNAMES)} County Archive")
        a = r.add("ADDR", f"{rng.randint(1, 999)} Main St\n{rng.choice(PLACES)}")
        a.add("CITY", rng.choice(PLACES).split(",")[0])
        if rng.random() < p:
            a.add("POST", str(rng.randint(10000, 99999)))
            a.add("CTRY", rng.choice(["USA", "Norway", "France", "Ghana"]))
        if rng.random() < p:
            r.add("PHON", f"+1-555-{rng.randint(1000, 9999)}")
        repos.append(r)
    sources = []
    for _ in range(rng.randint(2, 6)):
        s = Node("SOUR", xref=xref("S"))
        s.add("TITL", f"{rng.choice(SURNAMES)} {rng.choice(['Parish', 'Census', 'Family'])} records")
        if rng.random() < p:
            s.add("AUTH", rng.choice(SURNAMES))
        if rng.random() < p:
            s.add("PUBL", f"{rng.choice(PLACES)}, {rng.randint(1850, 2000)}")
        rp = s.add("REPO", f"@{rng.choice(repos).xref}@")
        if rng.random() < p:
            rp.add("CALN", f"{rng.randint(100, 999)}.{rng.randint(1, 99)}")
        if rng.random() < p:
            s.add("TEXT", _words(rng, pf["note_words"]) + "\n" + _words(rng, 5))
        sources.append(s)
    objects = []
    for _ in range(rng.randint(1, 3)):
        o = Node("OBJE", xref=xref("O"))
        f = o.add("FILE", f"media/{rng.randint(1, 9999)}.jpg")
        f.add("FORM", "jpg")
        f.add("TITL", _words(rng, 3))
        o.add("_PRIM", "Y" if rng.random() < 0.5 else "")
        objects.append(o)
    notes = []
    for _ in range(rng.randint(1, 3)):
        t = Node("NOTE", _words(rng, pf["note_words"]), xref=xref("N"))
        t.add("CHAR", "ignored")  # a child so the shared note keeps a key
        notes.append(t)

    def cite(node, depth):
        c = node.add("SOUR", f"@{rng.choice(sources).xref}@")
        c.add("PAGE", f"p. {rng.randint(1, 400)}")
        if depth > 1:
            d = c.add("DATA")
            d.add("DATE", _date(rng))
            if depth > 2:
                d.add("TEXT", _words(rng, 6))
        if rng.random() < 0.3:
            c.add("QUAY", str(rng.randint(0, 3)))

    def event(indi, tag, temple_place=False):
        e = indi.add(tag)
        e.add("DATE", _date(rng))
        if rng.random() < p:
            e.add("PLAC", rng.choice(list(TEMPLES)) if temple_place else rng.choice(PLACES))
        if rng.random() < p / 2:
            cite(e, pf["depth"])
        return e

    def person(sex, surname):
        i = Node("INDI", xref=xref("I"))
        given = rng.choice(GIVEN)
        name = i.add("NAME", f"{given} /{surname}/" + (" Jr." if rng.random() < 0.05 else ""))
        if rng.random() < p / 2:
            name.add("GIVN", given)
            name.add("SURN", surname)
        if rng.random() < 0.1:
            i.add("NAME", given)  # second NAME, no slash: last wins
        i.add("SEX", sex)
        sex_of[i.xref] = sex
        event(i, "BIRT")
        if rng.random() < p / 2:
            event(i, "CHR")
        if rng.random() < p:
            d = event(i, "DEAT")
            if rng.random() < 0.3:
                d.add("CAUS", rng.choice(["fever", "old age", "accident"]))
            event(i, "BURI", temple_place=rng.random() < 0.3)
        for _ in range(rng.randint(0, 2)):
            r = i.add("RESI")
            r.add("DATE", str(rng.randint(1750, 1990)))
            r.add("ADDR", rng.choice(PLACES))
        for _ in range(rng.randint(0, 2)):
            i.add("OCCU", rng.choice(OCCUPATIONS))
        if rng.random() < p / 3:
            i.add("EDUC", rng.choice(["primary", "college", "apprentice"]))
        if rng.random() < p / 3:
            ev = i.add("EVEN")
            if rng.random() < 0.8:
                ev.add("TYPE", rng.choice(EVENT_TYPES))
            ev.add("DATE", _date(rng))
        if rng.random() < p / 2:
            i.add("NOTE", _words(rng, pf["note_words"])
                  + ("\n" + _words(rng, pf["note_words"] // 2 + 1) if rng.random() < 0.5 else ""))
        if rng.random() < 0.2:
            i.add("NOTE", f"@{rng.choice(notes).xref}@")
        if rng.random() < 0.2:
            i.add("OBJE", f"@{rng.choice(objects).xref}@")
        if rng.random() < p / 2:
            cite(i, pf["depth"])
        if rng.random() < pf["lds"]:
            for tag in ("BAPL", "ENDL"):
                o = i.add(tag)
                o.add("DATE", _date(rng))
                o.add("TEMP", rng.choice(list(TEMPLES)) if rng.random() < 0.9
                      else rng.choice(UNKNOWN_TEMPLES))
        i.add("_UID", f"{rng.getrandbits(64):016X}")
        if rng.random() < 0.3:
            i.add("_PRIMARY", "Y")
        if rng.random() < 0.1:
            i.add("_ITALIC")
        if rng.random() < 0.1:
            i.add(rng.choice(UNUSED_TAGS), "custom value")
        if rng.random() < 0.03:  # dangling pointer: no such record
            a = i.add("ASSO", f"@{PREFIX}I9{rng.randint(100000, 999999)}@")
            a.add("RELA", "godparent")
        indis.append(i)
        return i

    parents, sex_of = {}, {}

    def family(h, w):
        f = Node("FAM", xref=xref("F"))
        f.add("HUSB", f"@{h.xref}@")
        f.add("WIFE", f"@{w.xref}@")
        h.add("FAMS", f"@{f.xref}@")
        w.add("FAMS", f"@{f.xref}@")
        m = f.add("MARR")
        m.add("DATE", _date(rng))
        if rng.random() < p:
            m.add("PLAC", rng.choice(PLACES))
        if rng.random() < 0.05:
            f.add("DIV", "Y")
        if rng.random() < pf["lds"]:
            s = f.add("SLGS")
            s.add("TEMP", rng.choice(list(TEMPLES)) if rng.random() < 0.9
                  else rng.choice(UNKNOWN_TEMPLES))
        kids = []
        for _ in range(rng.randint(0, 4)):
            sur = h.children[0].value.split("/")[1]
            c = person(rng.choice("MF"), sur)
            f.add("CHIL", f"@{c.xref}@")
            fc = c.add("FAMC", f"@{f.xref}@")
            if rng.random() < 0.3:
                fc.add("PEDI", rng.choice(["birth", "adopted"]))
            if rng.random() < pf["lds"] / 2:
                c.add("SLGC").add("FAMC", f"@{f.xref}@")
            parents[c.xref] = (h.xref, w.xref)
            kids.append(c)
        f.add("NCHI", str(len(kids)))
        if rng.random() < 0.3:
            f.add("_UID", f"{rng.getrandbits(64):016X}")
        fams.append(f)
        return kids

    gen = []
    for _ in range(pf["founders"]):
        gen += family(person("M", rng.choice(SURNAMES)), person("F", rng.choice(SURNAMES)))
    for _ in range(pf["generations"] - 1):
        nxt = []
        for c in gen:
            if rng.random() < 0.65:
                male = sex_of[c.xref] == "M"
                spouse = person("F" if male else "M", rng.choice(SURNAMES))
                h, w = (c, spouse) if male else (spouse, c)
                nxt += family(h, w)
        gen = nxt or gen
    recs = repos + sources + objects + notes + indis + fams
    rng.shuffle(recs)
    return recs, parents


def _header(charset, submitter):
    h = Node("HEAD")
    s = h.add("SOUR", "perfbench")
    s.add("VERS", "1.0")
    g = h.add("GEDC")
    g.add("VERS", "5.5.1")
    g.add("FORM", "LINEAGE-LINKED")
    h.add("CHAR", charset)
    h.add("SUBM", f"@{submitter}@")  # no edge: the header has no xref
    h.add("FILE", "tree.ged")
    return h


def _submitter(rng, xref):
    u = Node("SUBM", xref=xref)
    u.add("NAME", f"{rng.choice(GIVEN)} {rng.choice(SURNAMES)}")
    u.add("LANG", rng.choice(["English", "Norsk", "Français"]))
    return u


def _custom(rng):
    c = Node(CUSTOM_RECORD, xref="X1")
    c.add("TEXT", "check the census")
    c.add("DATE", _date(rng))
    return c


# ----------------------------------------------------------------- ledger

class Ledger:
    """What the converter must produce for one file, summed over copies."""

    def __init__(self):
        self.nodes = Counter()          # raw tag -> node rows
        self.keys = defaultdict(set)    # raw tag -> prop key union
        self.key_counts = Counter()     # prop key -> node rows holding it
        self.edges = Counter()          # raw tag -> edge rows
        self.rel_types = Counter()      # relType -> edge rows
        self.skipped = Counter()        # raw tag -> skipped records
        self.unused, self.missing = set(), set()
        self.records = 0

    def add(self, recs, copies=1):
        for r in recs:
            self.records += copies
            label, props, edges, unused, missing = flatten(r)
            if label is None:
                self.skipped[r.tag] += copies
                continue
            if props:
                self.nodes[r.tag] += copies
                self.keys[r.tag] |= props.keys()
                for k in props:
                    self.key_counts[k] += copies
            for e in edges:
                self.edges[e[3]] += copies
                self.rel_types[e[2]] += copies
            self.unused.update(unused)
            self.missing.update(missing)

    def to_json(self):
        return {
            "records": self.records,
            "nodes": dict(self.nodes),
            "headers": {t: node_columns(k) for t, k in self.keys.items()},
            "key_counts": dict(self.key_counts),
            "edges": dict(self.edges),
            "rel_types": dict(self.rel_types),
            "skipped": dict(self.skipped),
            "unused": sorted(self.unused),
            "missing_temples": sorted(self.missing),
        }


def _with_prefix(s, prefix):
    return s.replace(PREFIX, prefix)


def _sample(rng, chunks, k):
    """Expected props of k records with an xref, from random copies."""
    out = {}
    pool = [(r, ci, copies) for ci, (recs, _, copies) in enumerate(chunks)
            for r in recs if r.xref and TAGS.get(r.tag)]
    for r, ci, copies in rng.sample(pool, min(k, len(pool))):
        c = f"k{ci}c{rng.randrange(copies)}_"
        _, props, _, _, _ = flatten(r)
        props = {key: _with_prefix(v, c) if key == "Gedcom Id:ID" else v
                 for key, v in props.items()}
        out[_with_prefix(r.xref, c)] = {"tag": r.tag, "props": props}
    return out


def write_file(path, seed, target_bytes, n_chunks=1, crlf=False, bom=False,
               utf16=False, n_samples=40, family=False, twin=None, offset=0):
    """Write one GEDCOM file of about target_bytes, made of `n_chunks`
    chunks of different profiles, copied round-robin; return its ledger.
    `twin`, if given, is written with one copy of each of the first 8
    chunks: a small file with the same kinds of records."""
    rng = random.Random(seed)
    width = 120
    chunks, texts = [], []
    for i in range(n_chunks):
        pf = _profile(i, n_chunks, offset)
        recs, parents = make_chunk(rng, pf)
        lines = []
        for r in recs:
            serialize(r, lines, pf["width"])
        texts.append("\n".join(lines) + "\n")
        chunks.append([recs, parents, 0])
    share = target_bytes / n_chunks
    for ch, t in zip(chunks, texts):
        ch[2] = max(1, round(share / len(t.encode())))
    head_recs = [_header("UNICODE" if utf16 else "UTF-8", "U1"), _submitter(rng, "U1")]
    tail_recs = [_custom(rng), Node("TRLR")]
    out = []
    for r in head_recs:
        serialize(r, out, width)
    parts = ["\n".join(out) + "\n"]
    for i in range(max(ch[2] for ch in chunks)):
        parts += [_with_prefix(t, f"k{ci}c{i}_")
                  for ci, (t, ch) in enumerate(zip(texts, chunks)) if i < ch[2]]
    out = []
    for r in tail_recs:
        serialize(r, out, width)
    parts.append("\n".join(out) + "\n")
    text = "".join(parts)
    if twin:
        with open(twin, "w", encoding="utf-8", newline="") as f:
            f.write(parts[0] + "".join(_with_prefix(t, f"t{ci}_") for ci, t in enumerate(texts[:8]))
                    + parts[-1])
    if crlf:
        text = text.replace("\n", "\r\n")
    if utf16:
        data = codecs.BOM_UTF16_LE + text.encode("utf-16-le")
    else:
        data = (codecs.BOM_UTF8 if bom else b"") + text.encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    led = Ledger()
    led.add(head_recs + tail_recs)
    for recs, _, copies in chunks:
        led.add(recs, copies)
    ledger = led.to_json()
    ledger["bytes"] = len(data)
    ledger["sample"] = _sample(rng, chunks, n_samples)
    if family:
        ledger["family"] = _family_truth(rng, chunks)
    return ledger


def _family_truth(rng, chunks):
    """Truth for the graph queries, over every copy of every chunk. The
    ancestor query starts from the person with the deepest ancestry."""
    def ancestors(parents, x):
        gen, frontier, d = {}, [x], 0
        while frontier:
            d += 1
            nxt = []
            for y in frontier:
                for p in parents.get(y, ()):
                    if p not in gen and p != x:
                        gen[p] = d
                        nxt.append(p)
            frontier = nxt
        return gen
    best = max(((ci, x, ancestors(parents, x)) for ci, (_, parents, _) in enumerate(chunks)
                for x in sorted(parents)),
               key=lambda t: (max(t[2].values()), len(t[2]), -t[0]))
    ci0, start, anc = best
    c = f"k{ci0}c{rng.randrange(chunks[ci0][2])}_"
    sizes, n_vert, n_edges = [], 0, 0
    deg_sample = {}
    for ci, (recs, parents, copies) in enumerate(chunks):
        root = {}

        def find(x):
            while root.setdefault(x, x) != x:
                root[x] = root[root[x]]
                x = root[x]
            return x
        deg = defaultdict(lambda: [0, 0])
        for r in recs:
            for s, d, _, _ in flatten(r)[2]:
                root[find(s)] = find(d)
                deg[s][1] += 1
                deg[d][0] += 1
                n_edges += copies
        sizes += sorted(Counter(find(x) for x in list(root)).values()) * copies
        n_vert += len(root) * copies
        if ci == ci0:
            deg_sample = {_with_prefix(x, c): v for x, v in
                          rng.sample(sorted(deg.items()), min(30, len(deg)))}
    return {
        "start": _with_prefix(start, c),
        "ancestors": {_with_prefix(x, c): g for x, g in anc.items()},
        "vertices": n_vert,
        "edges": n_edges,
        "component_sizes": sorted(sizes),
        "degree_sample": deg_sample,
    }
