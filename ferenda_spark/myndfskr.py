"""Swedish agency-regulation (myndighetsföreskrift) metadata distill —
from-scratch restatement of the observable semantics of the
reference's MyndFskrBase.parse_metadata_from_textreader pipeline
(/root/reference/ferenda/sources/legal/se/myndfskr.py:393-733),
golden-checked against all 19 of its test/files/myndfskr/*.txt -> .n3
fixture pairs (integrationMyndFskr.py:62, assertEqualGraphs
exact=False: every golden triple must be produced).

Pipeline per document (text layer of a printed regulation):

1. forward scan page-by-page (``\\f`` breaks) for ISSN, title,
   identifier, utkom-från-trycket, beslutsdatum, beslutadAv,
   bemyndigande, celex directive — first match per property, stop at
   the page that yields beslutsdatum (skips cover/TOC pages);
2. reverse scan from the last page (paragraph-normalized) for
   ikraftträdande and upphäver phrases;
3. polish: Swedish date parsing ("31 januari 2008",
   "vid utgången av maj 2015" -> month end, "denna dag" ->
   beslutsdatum, "utkom från trycket" -> that date), RINFO URI
   minting (publ/<fs-slug>/<year>:<ordinal> with å->aa ä->ae ö->oe
   transliteration), authority statutes via the legalref SFS grammar
   mapped to the RINFO fragment scheme (#k_X-p_Y) with the
   most-specific-URI filter, change/repeal targets from the title
   ("om ändring i" -> rpubl:andrar, "om upphävande av" ->
   rpubl:upphaver), and the AllmannaRad-vs-Myndighetsforeskrift type
   rule.

Per-series quirks replicated: AFS margin-text unscrambling
(pdftotext interleaves the right-margin id/date into the title
lines), FFFS's extra "Upphävande av ..." title form.
"""

from __future__ import annotations

import calendar
import re
from datetime import date

from .textutil import normalize_space
from . import legalref

RPUBL = "http://rinfo.lagrummet.se/ns/2008/11/rinfo/publ#"
RINFO_PUBL = "http://rinfo.lagrummet.se/publ/"
RINFO_ORG = "http://rinfo.lagrummet.se/org/"
RINFO_SERIE = "http://rinfo.lagrummet.se/serie/fs/"
RINFO_EURLEX = "http://rinfo.lagrummet.se/ext/eur-lex/"
DCTERMS = "http://purl.org/dc/terms/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD_DATE = "http://www.w3.org/2001/XMLSchema#date"

SWEDISH_MONTHS = {
    "januari": 1, "jan": 1, "februari": 2, "feb": 2, "febr": 2,
    "mars": 3, "mar": 3, "april": 4, "apr": 4, "maj": 5, "juni": 6,
    "jun": 6, "juli": 7, "jul": 7, "augusti": 8, "aug": 8,
    "september": 9, "sep": 9, "sept": 9, "oktober": 10, "okt": 10,
    "november": 11, "nov": 11, "december": 12, "dec": 12,
    # "vid utgången av år 2006" = end of December
    # (swedishlegalsource.py:223)
    "år": 12,
}

# publisher agency per författningssamling label (the reference reads
# this from its swedishlegalsource commondata; the org URI slug is the
# transliteration of the agency name)
FS_PUBLISHER = {
    "AFS": "Arbetsmiljöverket",
    "BOLFS": "Bolagsverket",
    "DIFS": "Datainspektionen",
    "ELSÄK-FS": "Elsäkerhetsverket",
    "FFFS": "Finansinspektionen",
    "NFS": "Naturvårdsverket",
    "SNFS": "Naturvårdsverket",
    "RGKFS": "Riksgäldskontoret",
    "SJVFS": "Statens jordbruksverk",
    "SOSFS": "Socialstyrelsen",
}

# basefile fragment -> skos:altLabel (myndfskr.py:193-198)
FRAG_ALTLABEL = {"ELSAKFS": "ELSÄK-FS", "HSLFFS": "HSLF-FS",
                 "FOHMFS": "FoHMFS", "SVKFS": "SvKFS"}


def slugify(label: str) -> str:
    """RINFO URI slug: lowercase + å->aa ä->ae ö->oe, spaces -> _."""
    return (label.lower().replace("å", "aa").replace("ä", "ae")
            .replace("ö", "oe").replace(" ", "_"))


def parse_swedish_date(datestr: str):
    """'31 januari 2008' -> date; 'vid utgången av maj 2015' -> last
    day of that month (swedishlegalsource.py:1297-1350)."""
    datestr = datestr.lower().strip()
    if datestr.startswith("vid utgången av"):
        parts = datestr.split()
        month = SWEDISH_MONTHS[parts[-2]]
        year = int(parts[-1])
        return date(year, month, calendar.monthrange(year, month)[1])
    datestr = re.sub(r"([a-zåäö])(\d)", r"\1 \2", datestr)
    datestr = re.sub(r"(\d)([a-zåäö])", r"\1 \2", datestr)
    parts = datestr.split()
    year = int(parts[-1])
    month = SWEDISH_MONTHS[parts[-2].rstrip(".")]
    day = int(parts[-3])
    return date(year, month, day)


FWDTESTS = [
    ("dcterms:issn", [r"^ISSN (\d+\-\d+)$"]),
    ("dcterms:title",
     [r"((?:Föreskrifter|[\w ]+s (?:föreskrifter|allmänna råd))"
      r".*?)[;\n]\n"]),
    ("dcterms:identifier", [r"^([A-ZÅÄÖ-]+FS\s\s?\d{4}:\d+)$"]),
    ("rpubl:utkomFranTryck",
     [r"Utkom från\strycket\s+den\s(\d+ \w+ \d{4})"]),
    ("rpubl:genomforDirektiv", [r"Celex (3\d{2,4}\w\d{4})"]),
    ("rpubl:beslutsdatum",
     [r"(?:har beslutats|[Bb]eslutade|beslutat|[Bb]eslutad)"
      r"(?: den|) (\d+ \w+( \d{4}|))",
      r"Beslutade av (?:[A-ZÅÄÖ][\w ]+) den (\d+ \w+ \d{4}).",
      r"utfärdad den (\d+ \w+ \d{4}) tillkännages härmed i andra "
      r"hand.",
      r"(?:utfärdad|meddelad)e? den (\d+ \w+ \d{4})."]),
    ("rpubl:beslutadAv",
     [r"\s(?:meddelar|föreskriver)\s([A-ZÅÄÖ][\w ]+?)\d?\s",
      r"\n\s*([A-ZÅÄÖ][\w ]+?)\d? "
      r"(?:meddelar|lämnar|föreskriver|beslutar)"]),
    ("rpubl:bemyndigande",
     [r" ?(?:meddelar|föreskriver|Föreskrifterna meddelas|"
      r"Föreskrifterna upphävs)\d?,? (?:följande |)med stöd av\s"
      r"(.*?) ?(?:att|efter\ssamråd|dels|följande|i fråga om|"
      r"och lämnar allmänna råd|och beslutar följande allmänna råd|"
      r"\.\n)",
      r"^Med stöd av (.*)\s(?:meddelar|föreskriver)"]),
]

REVTESTS = [
    ("rpubl:ikrafttradandedatum",
     [r"(?:Denna författning|Dessa föreskrifter|Dessa allmänna råd|"
      r"Dessa föreskrifter och allmänna råd)\d* träder i ?kraft den "
      r"(\d+ \w+ \d{4})",
      r"Dessa föreskrifter träder i kraft, (?:.*), i övrigt den "
      r"(\d+ \w+ \d{4})",
      r"ska(?:ll|)\supphöra att gälla (?:den |)"
      r"(\d+ \w+ \d{4}|denna dag|vid utgången av \w+ \d{4})",
      r"träder i kraft den dag då författningen enligt uppgift på "
      r"den (utkom från trycket)"]),
    ("rpubl:upphaver",
     [r"träder i kraft den (?:\d+ \w+ \d{4}), då(.*)ska upphöra att "
      r"gälla",
      r"ska(?:ll|)\supphöra att gälla vid utgången av \w+ \d{4}, "
      r"nämligen(.*?)\n\n",
      r"att (.*) skall upphöra att gälla (denna dag|vid utgången av "
      r"\w+ \d{4})"]),
]


def sanitize_text_afs(text: str, basefile: str) -> str:
    """AFS margin unscramble (reference AFS.sanitize_text): pdftotext
    interleaves the right-margin identifier / 'Utkom från trycket' /
    date into the title block; pull those onto their own lines."""
    probable_id = basefile.upper().replace("/", " ")
    newtext, margin, inmargin = "", "", False
    datematch = re.compile(r"den \d+ \w+ \d{4}$").search
    for line in text.split("\n"):
        newline = True
        if (line.endswith(probable_id) and not margin
                and len(line) > len(probable_id)):
            inmargin = True
            margin += probable_id + "\n"
            newline = line[:line.index(probable_id)]
        elif inmargin and line.endswith("Utkom från trycket"):
            margin += "Utkom från trycket\n"
            newline = line[:line.index("Utkom från trycket")]
        elif inmargin and datematch(line):
            m = datematch(line)
            margin += m.group(0) + "\n"
            newline = line[:m.start()]
        elif inmargin and line == "":
            inmargin = False
            newline = "\n" + margin + "\n"
        else:
            newline = line
        if newline:
            if newline is True:
                newline = ""
        newtext += newline + "\n"
    return newtext


def _fs_uri(pub: str, year: str, ordinal: str) -> str:
    return "%s%s/%s:%s" % (RINFO_PUBL, slugify(pub), year, ordinal)


_FRAG_MAP = {"K": "k", "P": "p", "S": "s", "N": "n"}


def _rinfo_sfs_uri(lagen_uri: str) -> str:
    """lagen.nu statute URI -> RINFO scheme:
    https://lagen.nu/1957:601#K5P1 ->
    http://rinfo.lagrummet.se/publ/sfs/1957:601#k_5-p_1.  Fragments
    stop at paragraf depth ('19 a §' -> p_19_a): the reference's COIN
    space only defines kapitel/paragraf bindings for lagrum URIs, so
    stycke/punkt qualifiers never reach the minted bemyndigande URI
    (all golden fragments are k_/p_ only)."""
    m = re.match(r"https://lagen\.nu/([\d:_a-z.\s]+?)(#(.*))?$",
                 lagen_uri)
    if not m:
        return lagen_uri
    uri = RINFO_PUBL + "sfs/" + m.group(1)
    if m.group(3):
        parts = [(k, re.sub(r"(\d)([a-z])", r"\1_\2", v.lower()))
                 for k, v in re.findall(r"([KPSN])(\d+[a-z]?)",
                                        m.group(3))
                 if k in ("K", "P")]
        if parts:
            uri += "#" + "-".join("%s_%s" % (_FRAG_MAP[k], v)
                                  for k, v in parts)
    return uri


def parse_fs_text(text: str, basefile: str) -> list[tuple]:
    """One regulation's text layer -> list of metadata triples
    (subj, pred, obj, objtype) with objtype in
    {'uri', 'lit', 'date', 'lit@sv'}."""
    alias = basefile.split("/")[0]
    if alias == "afs":
        text = sanitize_text_afs(text, basefile)

    fwdtests = list(FWDTESTS)
    if alias == "fffs":
        fwdtests = [(p, (ts + [r"^(Upphävande av .*?)\n\n"]
                         if p == "dcterms:title" else ts))
                    for p, ts in fwdtests]
    if alias == "sosfs":
        # SOSFS.fwdtests: identifier without end-anchor (the id line
        # carries a trailing '(M)' marker)
        fwdtests = [(p, ([r"^([A-ZÅÄÖ-]+FS\s\s?\d{4}:\d+)"]
                         if p == "dcterms:identifier" else ts))
                    for p, ts in fwdtests]

    props: dict[str, str] = {}
    pages = text.split("\f")
    if alias == "sosfs":
        # SOSFS.parse_metadata_from_textreader: cue past cover pages
        # until the first real page ("Ansvarig utgivare")
        while pages and "Ansvarig utgivare" not in pages[0]:
            pages.pop(0)
    # 1. forward scan
    for page in pages:
        for prop, tests in fwdtests:
            if prop in props:
                continue
            for t in tests:
                m = re.search(t, page, re.MULTILINE | re.DOTALL
                              | re.UNICODE)
                if m:
                    props[prop] = normalize_space(m.group(1))
                    break
        if "rpubl:beslutsdatum" in props:
            break
    # 2. reverse scan, paragraph-normalized
    for page in reversed(pages):
        page = "\n\n".join(normalize_space(x)
                           for x in page.split("\n\n"))
        for prop, tests in REVTESTS:
            if prop in props:
                continue
            for t in tests:
                m = re.search(t, page, re.MULTILINE | re.UNICODE)
                if m:
                    props[prop] = normalize_space(m.group(1))
        if "rpubl:ikrafttradandedatum" in props:
            break

    # 3. sanitize (reference sanitize_metadata)
    if "dcterms:title" in props:
        title = props["dcterms:title"]
        if "denna författning har beslutats den" in title:
            del props["dcterms:title"]
        elif ("\nbeslutade den " in title
              or "; beslutade den " in title):
            props["dcterms:title"] = title.split("beslutade den ")[0]
    if "rpubl:bemyndigande" in props:
        props["rpubl:bemyndigande"] = \
            props["rpubl:bemyndigande"].replace("–", "-")

    # 4. polish -> triples
    if "dcterms:identifier" in props:
        pub, year, ordinal = re.split("[ :]",
                                      props["dcterms:identifier"])
    else:
        pub, year, ordinal = re.split("[/:_]", basefile.upper())
        pub = FRAG_ALTLABEL.get(pub, pub)
        props["dcterms:identifier"] = "%s %s:%s" % (pub, year, ordinal)
    uri = _fs_uri(pub, year, ordinal)
    triples: list[tuple] = []

    def add(pred, obj, objtype="lit"):
        triples.append((uri, pred, obj, objtype))

    add(RPUBL + "forfattningssamling", RINFO_SERIE + slugify(pub),
        "uri")
    publisher = FS_PUBLISHER.get(pub)
    if publisher:
        add(DCTERMS + "publisher", RINFO_ORG + slugify(publisher),
            "uri")
    add(RPUBL + "arsutgava", year)
    add(RPUBL + "lopnummer", ordinal)
    add(DCTERMS + "identifier", props["dcterms:identifier"])
    if "rpubl:beslutadAv" in props:
        add(RPUBL + "beslutadAv",
            RINFO_ORG + slugify(props["rpubl:beslutadAv"]), "uri")
    if "dcterms:issn" in props:
        add(DCTERMS + "issn", props["dcterms:issn"])

    title = props.get("dcterms:title")
    if title:
        add(DCTERMS + "title", title, "lit@sv")
        if re.search(r"^(Föreskrifter|[\w ]+s föreskrifter) om "
                     r"ändring i ", title, re.UNICODE):
            m = re.search(r"(?P<pub>[A-ZÅÄÖ-]+FS|) ?(?P<year>\d{4})"
                          r" ?:(?P<ordinal>\d+)", title)
            if m:
                p = m.group("pub") or pub
                add(RPUBL + "andrar",
                    _fs_uri(p, m.group("year"), m.group("ordinal")),
                    "uri")
        if (re.search(r"^(Föreskrifter|[\w ]+s föreskrifter) om "
                      r"upphävande av", title, re.UNICODE)
                and "rpubl:upphaver" not in props):
            props["rpubl:upphaver"] = title

    for key, pred in (("rpubl:utkomFranTryck", "utkomFranTryck"),
                      ("rpubl:beslutsdatum", "beslutsdatum"),
                      ("rpubl:ikrafttradandedatum",
                       "ikrafttradandedatum")):
        if key not in props:
            continue
        try:
            val = props[key]
            if (val == "denna dag"
                    and key == "rpubl:ikrafttradandedatum"):
                val = props["rpubl:beslutsdatum"]   # may be absent
            elif (val == "utkom från trycket"
                  and key == "rpubl:ikrafttradandedatum"):
                val = props["rpubl:utkomFranTryck"]
            add(RPUBL + pred, parse_swedish_date(val).isoformat(),
                "date")
        except (ValueError, KeyError, IndexError):
            pass

    if "rpubl:genomforDirektiv" in props:
        add(RPUBL + "genomforDirektiv",
            RINFO_EURLEX + props["rpubl:genomforDirektiv"].lower(),
            "uri")

    if "rpubl:bemyndigande" in props:
        bem = props["rpubl:bemyndigande"].replace("\xad ", "")
        uris = [seg[2] for seg in
                legalref.scan_legal_refs(bem, default_law=None)
                if seg[0] == "link"]
        uris = [_rinfo_sfs_uri(u) for u in uris]
        kept = [u for u in uris
                if not any(len(o) > len(u) and o.startswith(u)
                           for o in uris)]
        for u in dict.fromkeys(kept):
            add(RPUBL + "bemyndigande", u, "uri")

    if "rpubl:upphaver" in props:
        for upph in re.findall(r"([A-ZÅÄÖ-]+FS \d{4}:\d+)",
                               normalize_space(props["rpubl:upphaver"])):
            p, y, o = re.split("[ :]", upph)
            add(RPUBL + "upphaver", _fs_uri(p, y, o), "uri")

    if (title and "allmänna råd" in title
            and "föreskrifter" not in title):
        add(RDF_TYPE, RPUBL + "AllmannaRad", "uri")
    else:
        add(RDF_TYPE, RPUBL + "Myndighetsforeskrift", "uri")
    return triples


FS_SCHEMA = ("basefile string, subj string, pred string, obj string, "
             "objtype string")


def fs_metadata(docs, text_col: str = "text",
                basefile_col: str = "basefile"):
    """Spark stage: (basefile, text) -> metadata triples, one
    ``rowmap.map_rows`` pass (same stage shape as the parse stage; the
    scanners and tables ship inside the UDF).  A document whose
    extraction fails yields one quarantine row (objtype='error')
    after the triples read so far, instead of failing the batch (I4)."""
    from .rowmap import map_rows

    def row(basefile, text):
        try:
            for s, p, o, k in parse_fs_text(text or "", basefile):
                yield (basefile, s, p, o, k)
        except Exception as e:
            yield (basefile, "", "", str(e), "error")

    return map_rows(docs.select(basefile_col, text_col), row, FS_SCHEMA)
