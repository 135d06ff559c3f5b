"""Seeded input generators, one per workload.

Each generator is a pure function of ``(seed, size)`` and also returns
what a correct program must output for its inputs (the planted
violations), so the checks never ask the program under test.
"""

from __future__ import annotations

import hashlib
import random
import string

import pyarrow as pa
import pyarrow.parquet as pq

from shacl_spark.functions.terms import KG, RDF, RDFS, SH, XSD

T = RDF + "type"
STR = XSD + "string"
SH_IN = SH + "InConstraintComponent"
SH_NODE = SH + "NodeConstraintComponent"

# --- kg_build: a source-code corpus --------------------------------------------
#
# The planted structure of shacl_spark/sources/corpus.py, with the seed
# as a parameter: ~30% of files import a hub module, ~5% define a name
# from a near-duplicate family, 90% python / 10% javascript.  A seeded
# share of files is defective: its ``lang`` is outside the metamodel's
# ``sh:in`` list.  Defective files define only names no other file
# uses (random letters, so no LSH match either), which keeps their
# symbols out of every canonicalization component: each one violates
# ``sh:node`` through its definer and nothing else does.

_MODULES = [f"lib{i}" for i in range(47)] + ["os", "sys", "json"]
_HUBS = ["os", "sys", "json"]
_DUP_FAMILIES = [
    ["HttpClient", "HTTPClient", "http_client"],
    ["JsonParser", "JSONParser", "json_parser"],
    ["DbConn", "DBConn", "db_conn"],
]
_NAMES = [f"Widget{i}" for i in range(40)]
_VERBS = ["run", "load", "save", "parse", "emit", "fold", "scan", "push"]
BAD_LANGS = ["ruby", "go", "python3"]


def _unique_name(rng: random.Random) -> str:
    return "Q" + "".join(rng.choice(string.ascii_lowercase) for _ in range(15))


def corpus_file(seed: int, i: int, defect_rate: float):
    """File #i: ``((repo, path, commit, lang, content), defective,
    names of the classes and functions it defines)``."""
    rng = random.Random(seed * 1_000_003 + i)
    repo = f"org{i % 7}/repo{i % 23}"
    defective = rng.random() < defect_rate
    lang = "python" if rng.random() < 0.9 else "javascript"
    if defective:
        # the extractor reads any lang other than javascript with the
        # python grammar, so the content stays python
        lang = rng.choice(BAD_LANGS)
    ext = "js" if lang == "javascript" else "py"
    path = f"src/pkg{i % 11}/mod{i}.{ext}"
    commit = hashlib.sha256(f"{seed}:{repo}:{i % 5}".encode()).hexdigest()[:40]

    imports = []
    if rng.random() < 0.30:
        imports.append(rng.choice(_HUBS))
    imports += rng.sample(_MODULES[:47], rng.randint(1, 4))

    classes = []
    if defective:
        classes = [(_unique_name(rng), "object") for _ in range(rng.randint(1, 3))]
        funcs = [_unique_name(rng).lower() for _ in range(rng.randint(1, 4))]
    else:
        if rng.random() < 0.05:
            classes.append((rng.choice(rng.choice(_DUP_FAMILIES)), "object"))
        for _ in range(rng.randint(0, 4)):
            classes.append((rng.choice(_NAMES), rng.choice(_NAMES + ["object"])))
        funcs = [f"{rng.choice(_VERBS)}_{rng.randrange(100)}"
                 for _ in range(rng.randint(1, 8))]
    calls = rng.sample(funcs + imports, min(len(funcs + imports), rng.randint(1, 6)))

    lines: list[str] = []
    if lang != "javascript":
        for m in imports:
            if rng.random() < 0.5:
                lines.append(f"import {m}")
            else:
                lines.append(f"from {m} import {rng.choice(_VERBS)}")
        for cname, base in classes:
            lines.append(f"class {cname}({base}):")
            lines.append("    pass")
        for fn in funcs:
            kw = "async def" if rng.random() < 0.1 else "def"
            lines.append(f"{kw} {fn}(x):")
            lines.append(f"    return {rng.choice(calls)}(x)")
    else:
        for m in imports:
            lines.append(f"const {m} = require('{m}');")
        for cname, base in classes:
            lines.append(f"class {cname} extends {base} {{}}")
        for fn in funcs:
            lines.append(f"function {fn}(x) {{ return {rng.choice(calls)}(x); }}")
    content = "\n".join(lines) + "\n"
    names = {c for c, _ in classes} | set(funcs)
    return (repo, path, commit, lang, content), defective, names


def file_iri(repo: str, path: str, commit: str) -> str:
    return f"{KG}file/{repo}/{path}@{commit}"


def write_corpus(seed: int, n_files: int, path: str, defect_rate: float) -> dict:
    """Write the corpus as one parquet file; returns the rows and the
    expected metamodel report as (focus, source_shape, component)."""
    rows, expected = [], set()
    for i in range(n_files):
        row, defective, names = corpus_file(seed, i, defect_rate)
        rows.append(row)
        if defective:
            f = file_iri(*row[:3])
            expected.add((f, KG + "FileLang", SH_IN))
            for name in names:
                expected.add((f"{f}#{name}", KG + "SymDefiner", SH_NODE))
    fields = ["repo", "path", "commit", "lang", "content"]
    table = pa.table({n: pa.array(c, pa.string()) for n, c in zip(fields, zip(*rows))})
    pq.write_table(table, path)
    return {"rows": rows, "expected": expected}


# --- validate_report: a KG-shaped graph as N-Triples + a shapes graph ----------

SHAPES_TTL = """\
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix kg: <kg:> .

kg:FileShape a sh:NodeShape ;
  sh:targetClass kg:File ;
  sh:property kg:FileSha , kg:FileLang , kg:FileRepo , kg:FileDefines ;
  sh:sparql kg:FileImportsModules .
kg:FileSha sh:path kg:sha256 ; sh:minCount 1 ; sh:maxCount 1 ;
  sh:datatype xsd:string ; sh:pattern "^[0-9a-f]{64}$" .
kg:FileLang sh:path kg:lang ; sh:minCount 1 ; sh:in ( "python" "javascript" ) .
kg:FileRepo sh:path kg:inRepo ; sh:minCount 1 ; sh:nodeKind sh:IRI ;
  sh:class kg:Repo ; sh:node kg:RepoShape .
kg:FileDefines sh:path kg:defines ; sh:class kg:Symbol .
kg:FileImportsModules sh:select \"\"\"PREFIX kg: <kg:>
SELECT ?this ?value WHERE { ?this kg:imports ?value .
  FILTER NOT EXISTS { ?value a kg:Module } }\"\"\" .

kg:RepoShape a sh:NodeShape ; sh:property kg:RepoName .
kg:RepoName sh:path kg:repoName ; sh:minCount 1 ; sh:datatype xsd:string .

kg:SymbolShape a sh:NodeShape ;
  sh:targetClass kg:Symbol ;
  sh:property kg:SymName , kg:SymRepo , kg:SymAncestry .
kg:SymName sh:path kg:name ; sh:minCount 1 ; sh:maxCount 1 ;
  sh:datatype xsd:string ; sh:maxLength 40 .
kg:SymRepo sh:path ( [ sh:inversePath kg:defines ] kg:inRepo ) ; sh:minCount 1 .
kg:SymAncestry sh:path [ sh:zeroOrMorePath kg:extends ] ; sh:class kg:Symbol .
"""

# constraint components the shapes above use
COMPONENTS = [
    "MinCount", "MaxCount", "Datatype", "Pattern", "In", "NodeKind", "Class",
    "Node", "MaxLength", "SPARQL",
]

_C = {c: f"{SH}{c}ConstraintComponent" for c in COMPONENTS}

FILE_DEFECTS = [
    "sha_missing", "sha_twice", "sha_pattern", "sha_datatype", "lang_bad",
    "repo_literal", "repo_unnamed", "import_ghost", "defines_nonsymbol",
]
SYMBOL_DEFECTS = [
    "name_missing", "name_twice", "name_datatype", "name_long", "orphan",
    "extends_untyped",
]


def _sha(rng: random.Random) -> str:
    return "%064x" % rng.getrandbits(256)


def _nt_term(kind: str, value: str, dt: str | None) -> str:
    if kind == "iri":
        return f"<{value}>"
    suffix = "" if dt in (None, STR) else f"^^<{dt}>"
    return '"' + value.replace("\\", "\\\\").replace('"', '\\"') + '"' + suffix


def graph_triples(seed: int, n_files: int, defect_rate: float = 0.2):
    """A KG-shaped graph: files, repos, modules, symbols and a class
    hierarchy.  A ``defect_rate`` share of files and of symbols carries
    exactly one planted defect; returns ``(triples, expected)`` where
    ``expected`` is the report as (focus, source_shape, component)."""
    rng = random.Random(seed * 7_919 + 17)
    tr: list[tuple] = []
    exp: set[tuple] = set()

    def iri(s, p, o):
        tr.append((s, p, o, "iri", None))

    def lit(s, p, o, dt=STR):
        tr.append((s, p, o, "literal", dt))

    iri(KG + "Class", RDFS + "subClassOf", KG + "Symbol")
    iri(KG + "Function", RDFS + "subClassOf", KG + "Symbol")
    n_repos = max(4, n_files // 40)
    for r in range(n_repos):
        iri(f"{KG}repo/r{r}", T, KG + "Repo")
        lit(f"{KG}repo/r{r}", KG + "repoName", f"r{r}")
    for m in range(60):
        iri(f"{KG}module/m{m}", T, KG + "Module")
    # clean root classes every other class may extend
    lib = f"{KG}file/lib@{seed}"
    iri(lib, T, KG + "File")
    lit(lib, KG + "sha256", _sha(rng))
    lit(lib, KG + "lang", "python")
    iri(lib, KG + "inRepo", f"{KG}repo/r0")
    clean_classes = []
    for k in range(8):
        root = f"{lib}#Base{k}"
        iri(root, T, KG + "Class")
        lit(root, KG + "name", f"Base{k}")
        iri(lib, KG + "defines", root)
        clean_classes.append(root)

    for i in range(n_files):
        f = f"{KG}file/f{i}"
        d = rng.choice(FILE_DEFECTS) if rng.random() < defect_rate else None
        iri(f, T, KG + "File")
        sha = _sha(rng)
        if d == "sha_missing":
            exp.add((f, KG + "FileSha", _C["MinCount"]))
        elif d == "sha_twice":
            lit(f, KG + "sha256", sha)
            lit(f, KG + "sha256", _sha(rng))
            exp.add((f, KG + "FileSha", _C["MaxCount"]))
        elif d == "sha_pattern":
            lit(f, KG + "sha256", sha.upper())
            exp.add((f, KG + "FileSha", _C["Pattern"]))
        elif d == "sha_datatype":
            lit(f, KG + "sha256", sha, XSD + "hexBinary")
            exp.add((f, KG + "FileSha", _C["Datatype"]))
        else:
            lit(f, KG + "sha256", sha)
        if d == "lang_bad":
            lit(f, KG + "lang", rng.choice(BAD_LANGS))
            exp.add((f, KG + "FileLang", _C["In"]))
        else:
            lit(f, KG + "lang", "python" if rng.random() < 0.9 else "javascript")
        repo = f"{KG}repo/r{rng.randrange(n_repos)}"
        if d == "repo_literal":
            lit(f, KG + "inRepo", repo)
            for c in ("NodeKind", "Class", "Node"):
                exp.add((f, KG + "FileRepo", _C[c]))
        elif d == "repo_unnamed":
            orphan = f"{KG}repo/unnamed{i}"
            iri(orphan, T, KG + "Repo")
            iri(f, KG + "inRepo", orphan)
            exp.add((f, KG + "FileRepo", _C["Node"]))
        else:
            iri(f, KG + "inRepo", repo)
        for m in rng.sample(range(60), rng.randint(1, 4)):
            iri(f, KG + "imports", f"{KG}module/m{m}")
        if d == "import_ghost":
            iri(f, KG + "imports", f"{KG}module/ghost{i}")
            exp.add((f, KG + "FileShape", _C["SPARQL"]))
        if d == "defines_nonsymbol":
            stray = f"{KG}module/stray{i}"
            iri(stray, T, KG + "Module")
            iri(f, KG + "defines", stray)
            exp.add((f, KG + "FileDefines", _C["Class"]))

        for j in range(rng.randint(1, 4)):
            s = f"{f}#s{j}"
            is_class = rng.random() < 0.5
            iri(s, T, KG + ("Class" if is_class else "Function"))
            sd = rng.choice(SYMBOL_DEFECTS) if rng.random() < defect_rate else None
            if sd == "extends_untyped" and not is_class:
                sd = None
            name = f"{'C' if is_class else 'fn'}{i}_{j}"
            if sd == "name_missing":
                exp.add((s, KG + "SymName", _C["MinCount"]))
            elif sd == "name_twice":
                lit(s, KG + "name", name)
                lit(s, KG + "name", name + "_alias")
                exp.add((s, KG + "SymName", _C["MaxCount"]))
            elif sd == "name_datatype":
                lit(s, KG + "name", str(i), XSD + "integer")
                exp.add((s, KG + "SymName", _C["Datatype"]))
            elif sd == "name_long":
                lit(s, KG + "name", name + "_" + "x" * 40)
                exp.add((s, KG + "SymName", _C["MaxLength"]))
            else:
                lit(s, KG + "name", name)
            if sd == "orphan":
                exp.add((s, KG + "SymRepo", _C["MinCount"]))
            else:
                iri(f, KG + "defines", s)
            if sd == "extends_untyped":
                iri(s, KG + "extends", f"{KG}mention/Untyped{i}_{j}")
                exp.add((s, KG + "SymAncestry", _C["Class"]))
            elif is_class:
                if rng.random() < 0.6:
                    iri(s, KG + "extends", rng.choice(clean_classes))
                # only classes whose whole ancestry is clean are
                # extended, so a planted defect never propagates
                if sd is None:
                    clean_classes.append(s)
    return tr, exp


def write_graph_nt(seed: int, n_files: int, path: str) -> dict:
    """Write the graph as N-Triples text; returns line count + expected."""
    tr, exp = graph_triples(seed, n_files)
    with open(path, "w", encoding="utf-8") as out:
        for s, p, o, kind, dt in tr:
            out.write(f"<{s}> <{p}> {_nt_term(kind, o, dt)} .\n")
    return {"lines": len(tr), "expected": exp}


# --- cdc_stream: a base graph and a feed of CDC micro-batches ------------------

CDC_SCHEMA = pa.schema(
    [("subj", pa.string()), ("pred", pa.string()), ("obj", pa.string()),
     ("obj_kind", pa.string()), ("obj_dt", pa.string()), ("obj_lang", pa.string()),
     ("src_repo", pa.string()), ("src_path", pa.string()),
     ("src_commit", pa.string()), ("part_id", pa.int32()), ("op", pa.string())]
)


def _kg_file_triples(rng: random.Random, i: int, lang: str) -> list[tuple]:
    """The triples the extractor emits for one file, metamodel-shaped."""
    f = f"{KG}file/org{i % 7}/repo{i % 23}/src/mod{i}.py@c{i % 5}"
    out = [
        (f, T, KG + "File", "iri", None),
        (f, KG + "inRepo", f"{KG}repo/org{i % 7}/repo{i % 23}", "iri", None),
        (f, KG + "atCommit", f"c{i % 5}", "literal", STR),
        (f, KG + "sha256", _sha(rng), "literal", STR),
        (f, KG + "lang", lang, "literal", STR),
    ]
    for j in range(rng.randint(1, 3)):
        kind = "Class" if rng.random() < 0.4 else "Function"
        s = f"{f}#{kind.lower()}{j}"
        out += [
            (s, T, KG + kind, "iri", None),
            (f, KG + "defines", s, "iri", None),
            (s, KG + "name", f"{kind.lower()}{j}", "literal", STR),
        ]
    return out


def _write_cdc(rows: list[tuple], path: str) -> None:
    cols = list(zip(*rows))
    none = [None] * len(rows)
    data = {
        "subj": cols[0], "pred": cols[1], "obj": cols[2], "obj_kind": cols[3],
        "obj_dt": cols[4], "obj_lang": none, "src_repo": none, "src_path": none,
        "src_commit": none, "part_id": none, "op": cols[5],
    }
    pq.write_table(pa.table(data, schema=CDC_SCHEMA), path)


def write_cdc_feed(
    seed: int, base_files: int, n_batches: int, adds: int, retracts: int,
    base_dir: str, feed_dir: str,
) -> dict:
    """The base graph as one file, then ``n_batches`` files of the feed.

    Every batch adds ``adds`` new files (one in ten with a ``lang``
    outside the metamodel's list) and retracts the ``kg:sha256`` triple
    of ``retracts`` distinct live files, which leaves them without one
    (``sh:minCount``) and, through ``sh:node``, fails the symbols they
    define.  All batches hold the same number of files."""
    import os

    rng = random.Random(seed * 104_729 + 5)
    base = []
    live_sha: list[tuple] = []
    for i in range(base_files):
        rows = _kg_file_triples(rng, i, "python" if rng.random() < 0.9 else "javascript")
        base += [r + ("+",) for r in rows]
        live_sha.append(rows[3])
    os.makedirs(base_dir, exist_ok=True)
    _write_cdc(base, os.path.join(base_dir, "base.parquet"))
    rng.shuffle(live_sha)
    os.makedirs(feed_dir, exist_ok=True)
    sizes = []
    nxt = base_files
    for b in range(n_batches):
        rows = []
        for _ in range(adds):
            lang = rng.choice(BAD_LANGS) if rng.random() < 0.1 else "python"
            new = _kg_file_triples(rng, nxt, lang)
            nxt += 1
            rows += [r + ("+",) for r in new]
            live_sha.append(new[3])
        for _ in range(retracts):
            rows.append(live_sha.pop(0) + ("-",))
        _write_cdc(rows, os.path.join(feed_dir, f"batch{b:04d}.parquet"))
        sizes.append(len(rows))
    return {"base_rows": len(base), "batch_rows": sizes}
