"""Independent per-file recomputation of triple extraction.

Built the way tests/test_extract.py's oracle is: one pass per
normative regex of shacl_spark/kg/extract.py, one Python set per file,
no Spark.  Any ``lang`` other than ``javascript`` is read with the
python grammar, as the extractor's dispatch does.
"""

from __future__ import annotations

import hashlib

from shacl_spark.functions.terms import KG, RDF_TYPE, XSD_STRING
from shacl_spark.kg import extract as X


def oracle_extract(repo: str, path: str, commit: str, lang: str, content: str) -> set:
    file_iri = f"{KG}file/{repo}/{path}@{commit}"
    triples: set = set()

    def add(s, p, o, kind="iri", dt=None):
        triples.add((s, p, o, kind, dt, None))

    add(file_iri, RDF_TYPE, KG + "File")
    add(file_iri, KG + "inRepo", KG + "repo/" + repo)
    add(file_iri, KG + "atCommit", commit, "literal", XSD_STRING)
    add(file_iri, KG + "sha256", hashlib.sha256(content.encode()).hexdigest(),
        "literal", XSD_STRING)
    add(file_iri, KG + "lang", lang, "literal", XSD_STRING)

    if lang == "javascript":
        imp_res, cls_re, def_re, call_re, kws = (
            [X.JS_REQUIRE_RE, X.JS_IMPORT_RE], X.JS_CLASS_RE, X.JS_FUNC_RE,
            X.JS_CALL_RE, X.JS_KEYWORDS,
        )
    else:
        imp_res, cls_re, def_re, call_re, kws = (
            [X.PY_IMPORT_RE, X.PY_FROM_RE], X.PY_CLASS_RE, X.PY_DEF_RE,
            X.PY_CALL_RE, X.PY_KEYWORDS,
        )
    for rx in imp_res:
        for m in rx.finditer(content):
            add(file_iri, KG + "imports", KG + "module/" + m.group(1))
    defined = set()
    for m in cls_re.finditer(content):
        name, base = m.group(1), m.group(2)
        defined.add(name)
        sym = f"{file_iri}#{name}"
        add(sym, RDF_TYPE, KG + "Class")
        add(file_iri, KG + "defines", sym)
        add(sym, KG + "name", name, "literal", XSD_STRING)
        if base and base not in ("object", ""):
            add(sym, KG + "extends", KG + "mention/" + base)
    for m in def_re.finditer(content):
        name = m.group(1)
        defined.add(name)
        sym = f"{file_iri}#{name}"
        add(sym, RDF_TYPE, KG + "Function")
        add(file_iri, KG + "defines", sym)
        add(sym, KG + "name", name, "literal", XSD_STRING)
    for m in call_re.finditer(content):
        name = m.group(1)
        if name not in kws and name not in defined:
            add(file_iri, KG + "calls", KG + "mention/" + name)
    return triples
