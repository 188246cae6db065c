"""Seeded sanctions inputs: an EU-style XML feed plus a PDF report set.

``generate(out_dir, n_entities, n_docs, seed)`` writes

- ``feed/feed.xml``: one ``<export>`` document with ``n_entities``
  ``<sanctionEntity>`` elements (aliases, genders, functions, titles,
  birthdates, addresses, citizenships, regulations, remarks; accented,
  apostrophe and Cyrillic names; entities with no Latin alias become
  ``UNKNOWN``; some lack a subject type);
- ``pdf/report_NNNNN.pdf``: the report set, numeric-suffix names in the
  order the reader sequences them, in every writer variant of ``pb.pdf``
  including corrupt documents whose entries are lost;
- ``eol_probe/report_00001.pdf``: the defect probe, one AES document of
  ``EOL_PROBE_PAGES`` one-line pages, every second one with a content
  stream whose ciphertext ends in 0x0D (see ``pb.pdf``);
- ``truth.json``: the ground truth (entity count, documents, per-branch
  REM2 counts, expected matched / missing / conflict counts).

The ground truth is computed independently of the program under test: the
index and probe use the three name-key variants (case fold; punctuation to
space; accent strip) with first-chunk-wins per key, and the REM2 fill is the
reference's two sequential passes over feed order.
"""
import json
import os
import random
import re
import unicodedata
from xml.sax.saxutils import quoteattr, escape

from . import pdf

SYLLABLES = ["ka", "lo", "mi", "ra", "ten", "vo", "zu", "bel", "dar", "fin",
             "gor", "han", "jes", "kor", "lin", "mar", "nor", "pel", "ros", "sav",
             "tar", "ul", "ven", "wil"]
FIRST = ["John", "Maria", "Ahmed", "Olga", "Pierre", "Ana", "Viktor", "Leila",
         "Tomas", "Ines", "Omar", "Sofia", "Yusuf", "Elena", "Karim", "Nadia",
         "Igor", "Fatima", "Luis", "Hana", "José", "Zoë", "Björn", "Ramón",
         "François", "Jürgen", "Agnès", "Søren"]
ACCENT = {"a": "á", "e": "é", "i": "í", "o": "ö", "u": "ü"}
CYRILLIC = ["Сергей Иванов", "Абдул Рахман", "Ольга Петрова", "Дмитрий Орлов",
            "Анна Смирнова"]
COMPANY = ["Trading Ltd", "Holdings", "Shipping Company", "Bank", "Industries",
           "Group", "Import Export"]
COUNTRIES = ["afghanistan", "Syria", "Russian Federation", "Iran", "Libya",
             "Belarus", "Myanmar", "North Korea", "UNKNOWN", "Côte d’Ivoire",
             "türkiye"]
CITIES = ["Kabul", "Damascus", "Moscow", "Tehran", "Tripoli", "Minsk", "Yangon",
          "Pyongyang", "Aleppo", "São Paulo"]
PROGRAMMES = ["SYRIA", "LIBYA", "RUSSIA", "IRAN", "BELARUS", "MYANMAR", "DPRK",
              "EU|TALIBAN", "EU|ISIL", "TERR"]
FUNCTIONS = ["Deputy Minister", "Commander", "Chief of Staff", "Governor",
             "Director"]
TITLES = ["Mullah", "Dr", "General", "Haji", "Colonel"]
REMARKS = ["Senior member.", "Associated with the regime.", "none",
           "Listed pursuant to Article 2.", "Involved in procurement."]

CHUNKS_PER_PAGE = 8

# The rates that set the per-row and fill cost. No rate is measured on the
# real EU feed: the reference prints no counts (BASELINE.md gives only
# "O(10^3) entities, one PDF"). Two are taken from the repository's fixture
# pair, src/main/resources/graft/fixtures/feed.xml and pdf.txt (the text of
# report.pdf), 9 entities. The others are assumptions. The fixtures are
# hand-made to reach every branch, so they are no sample for the rest (their
# value is noted where it differs).
LISTED_SHARE = 5 / 8         # fixture: the PDF lists 5 of the 8 named entities
MULTI_ALIAS_SHARE = 1 / 9    # fixture: 8 entities have one alias, 1 has three
DUP_SHARE = 0.06             # assumed (fixture: 4 of 9 entities share a name)
DUP_POOL_SHARE = 0.06        # assumed: share of entities whose name may recur
UNKNOWN_PER = 500            # assumed: one Cyrillic-only entity per 500 (fixture: 1 of 9)
ACCENT_SHARE = 0.15          # assumed (fixture: every name of feed_u.xml)
CATEGORY_WEIGHTS = (80, 18, 2)  # assumed P, E, missing (fixture: 7, 2, 0)
ALIAS_LISTED_SHARE = 0.3     # assumed: extra aliases with a PDF entry of their own

EOL_PROBE_PAGES = 8


def eol_probe_line(page, pages=EOL_PROBE_PAGES):
    return "EOL probe page %d of %d" % (page, pages)


# ---------------------------------------------------------------- name keys

def py_title(s):
    return s.title()


def clean_name(s):
    return py_title(" ".join(s.split()))


_PUNCT = re.compile(r"[^\w\s]|_")


def _collapse_lower(s):
    return " ".join(s.split()).lower()


def key_variants(name):
    """(case fold, punctuation to space, accent strip) of a cleaned name."""
    k1 = _collapse_lower(name)
    k2 = _collapse_lower(_PUNCT.sub(" ", name))
    nfkd = unicodedata.normalize("NFKD", name)
    k3 = _collapse_lower("".join(c for c in nfkd if unicodedata.combining(c) == 0))
    return (k1, k2, k3)


def strip_accents(s):
    nfkd = unicodedata.normalize("NFKD", s)
    return unicodedata.normalize(
        "NFC", "".join(c for c in nfkd if unicodedata.combining(c) == 0))


# ---------------------------------------------------------------- REM2 fill

def rem2_fill(names, cands):
    """Reference REM2 passes; returns (rem2, yellow, red, branch) lists."""
    n = len(names)
    cands = list(cands)
    dup = {}
    for nm in names:
        dup[nm] = dup.get(nm, 0) + 1
    rem2, yellow, red = [""] * n, [False] * n, [False] * n
    branch = [""] * n
    next_cand, nv = [None] * n, None
    for i in range(n - 1, -1, -1):
        next_cand[i] = nv
        if cands[i]:
            nv = cands[i]
    prev = None
    for i in range(n):
        fn = names[i]
        if fn == "UNKNOWN":
            yellow[i], branch[i] = True, "unknown_name"
        elif dup[fn] == 1:
            if cands[i]:
                rem2[i], branch[i] = cands[i], "unique_match"
            else:
                yellow[i], branch[i] = True, "unique_miss"
        else:
            nx = next_cand[i]
            if prev is not None and nx is not None and prev == nx:
                rem2[i] = cands[i] = prev
                branch[i] = "duplicate_agree"
            else:
                red[i], branch[i] = True, "duplicate_conflict"
        if cands[i]:
            prev = cands[i]
    cells = list(rem2)
    next_cell, nv = [None] * n, None
    for i in range(n - 1, -1, -1):
        next_cell[i] = nv
        if cells[i]:
            nv = cells[i]
    prev = None
    for i in range(n):
        if names[i] != "UNKNOWN" and not cells[i] and dup[names[i]] > 1:
            nx = next_cell[i]
            if prev is not None and nx is not None and prev == nx:
                cells[i] = prev
                red[i] = False
                branch[i] = "pass3_chain"
        if cells[i]:
            prev = cells[i]
    return cells, yellow, red, branch


# ---------------------------------------------------------------- generator

class _Names:
    """Unique logical names: a syllable code makes every base distinct after
    accent stripping and case folding, so keys never collide by accident."""

    def __init__(self, rng):
        self.rng = rng
        self.next = 0

    def _code(self):
        i, parts = self.next, []
        self.next += 1
        for _ in range(4):
            parts.append(SYLLABLES[i % len(SYLLABLES)])
            i //= len(SYLLABLES)
        parts.append(SYLLABLES[(i + self.next * 7) % len(SYLLABLES)])
        return "".join(parts)

    def person(self):
        rng = self.rng
        last = self._code()
        if rng.random() < ACCENT_SHARE:
            last = "".join(ACCENT.get(c, c) if j % 3 == 1 else c for j, c in enumerate(last))
        if rng.random() < 0.05:
            last = "o'" + last
        name = rng.choice(FIRST) + " " + last.capitalize()
        if rng.random() < 0.3:
            name = rng.choice(FIRST) + " " + name
        return clean_name(name)

    def company(self):
        return clean_name(self._code().capitalize() + " " + self.rng.choice(COMPANY))


def _raw_spelling(rng, name):
    """How the feed spells a cleaned name: mostly as is, sometimes lower case
    or with doubled spaces (cleaning folds both back)."""
    r = rng.random()
    if r < 0.08:
        return name.lower()
    if r < 0.12:
        return name.replace(" ", "  ", 1)
    return name


def _entity_xml(rng, ent):
    out = [" <sanctionEntity>\n"]
    if ent["category"] is not None:
        out.append('  <subjectType classificationCode="%s"/>\n' % ent["category"])
    for raw, is_primary in ent["aliases"]:
        attrs = ["wholeName=" + quoteattr(raw)]
        if ent["category"] == "P" and rng.random() < 0.5:
            attrs.append('gender="%s"' % rng.choice("MF"))
        if is_primary and rng.random() < 0.15:
            attrs.append("function=" + quoteattr(rng.choice(FUNCTIONS)))
        if is_primary and rng.random() < 0.1:
            attrs.append("title=" + quoteattr(rng.choice(TITLES)))
        out.append("  <nameAlias %s/>\n" % " ".join(attrs))
    for _ in range(rng.choice((0, 1, 1, 2))):
        out.append("  <citizenship countryDescription=%s/>\n" % quoteattr(rng.choice(COUNTRIES)))
    if ent["category"] == "P":
        r = rng.random()
        y = 1940 + rng.randrange(60)
        if r < 0.5:
            out.append('  <birthdate birthdate="%d-%02d-%02d" place=%s/>\n'
                       % (y, 1 + rng.randrange(12), 1 + rng.randrange(28),
                          quoteattr(rng.choice(CITIES) + " Province")))
        elif r < 0.7:
            out.append('  <birthdate year="%d"/>\n' % y)
        elif r < 0.8:
            out.append('  <birthdate yearRangeFrom="%d" yearRangeTo="%d"/>\n' % (y, y + 4))
    if rng.random() < 0.4:
        out.append('  <address city=%s countryDescription=%s street="St %d" zipCode="%d"/>\n'
                   % (quoteattr(rng.choice(CITIES)), quoteattr(rng.choice(COUNTRIES)),
                      1 + rng.randrange(90), 1000 + rng.randrange(9000)))
    out.append('  <regulation numberTitle="(EU) %d/%d"/>\n'
               % (2014 + rng.randrange(10), 1 + rng.randrange(2000)))
    if rng.random() < 0.5:
        out.append("  <remark>%s</remark>\n" % escape(rng.choice(REMARKS)))
    out.append(" </sanctionEntity>\n")
    return "".join(out)


def _chunk_lines(rng, name, numbers, programme):
    lines = []
    r = rng.random()
    shown = name
    if r < 0.05:
        shown = name.upper()
    elif r < 0.15:
        shown = strip_accents(name)
    if rng.random() < 0.04:
        lines += ["Name/Alias:", shown]
    elif rng.random() < 0.1:
        lines.append("Name/Alias: %s Title: %s" % (shown, rng.choice(TITLES)))
    else:
        lines.append("Name/Alias: " + shown)
    lines.append("Citizenship information: " + rng.choice(COUNTRIES))
    for num in numbers:
        lines.append("Number: " + num)
    lines.append("Programme: " + programme)
    return lines, shown


def _rem2_of(numbers, programme):
    parts = []
    if numbers:
        parts.append("Number: " + " / ".join(numbers))
    parts.append("Programme: " + programme.split("|")[-1].strip())
    return "; ".join(parts)


def generate(out_dir, n_entities, n_docs, seed):
    rng = random.Random(seed)
    names = _Names(rng)
    # -- logical entities in feed order ------------------------------------
    entities = []
    dup_pool = []

    def new_entity(primary=None, in_pdf=None):
        cat = rng.choices(["P", "E", None], weights=CATEGORY_WEIGHTS)[0]
        if primary is None:
            primary = names.company() if cat == "E" else names.person()
        # three aliases, like the fixture's: for a person a Cyrillic one
        # before the primary and a Latin one after; otherwise two Latin ones
        multi = rng.random() < MULTI_ALIAS_SHARE
        aliases = []
        if multi and cat == "P":
            aliases.append((rng.choice(CYRILLIC), False))
        aliases.append((_raw_spelling(rng, primary), True))
        extra = []
        for _ in range((1 if cat == "P" else 2) if multi else 0):
            alias = names.person() if cat != "E" else names.company()
            aliases.append((_raw_spelling(rng, alias), False))
            extra.append(alias)
        return {"category": cat, "aliases": aliases, "primary": primary,
                "extra": extra, "in_pdf": in_pdf}

    def unknown_entity():
        return {"category": "P", "aliases": [(rng.choice(CYRILLIC), False)],
                "primary": "UNKNOWN", "extra": [], "in_pdf": False}

    # branch patterns at random positions, so that every REM2 branch occurs
    # even in a small feed: [unique A, dup X (unlisted), dup Y (listed),
    # unique A'] makes Y a duplicate agree and X a pass-3 chain
    patterns = max(2, n_entities // 2000)
    n_unknown = max(1, n_entities // UNKNOWN_PER)
    body = n_entities - 5 * patterns - n_unknown
    for _ in range(body):
        r = rng.random()
        if r < DUP_SHARE and dup_pool:
            src = rng.choice(dup_pool)
            entities.append(new_entity(primary=src["primary"], in_pdf=src["in_pdf"]))
        else:
            ent = new_entity(in_pdf=rng.random() < LISTED_SHARE)
            if r < DUP_SHARE + DUP_POOL_SHARE:
                dup_pool.append(ent)
            entities.append(ent)
    for _ in range(n_unknown):
        entities.insert(rng.randrange(len(entities) + 1), unknown_entity())
    for _ in range(patterns):
        anchor = new_entity(in_pdf=True)
        x = new_entity(in_pdf=False)
        y = new_entity(in_pdf=True)
        twin = new_entity(in_pdf=True)
        twin["share_rem2_with"] = anchor["primary"]
        pos = rng.randrange(len(entities) + 1)
        entities[pos:pos] = [anchor, x, y, twin]
        # partners for the two duplicates, elsewhere in the feed
        for d in (x, y):
            entities.insert(rng.randrange(len(entities) + 1),
                            new_entity(primary=d["primary"], in_pdf=d["in_pdf"]))
    entities = entities[:n_entities]
    while len(entities) < n_entities:
        entities.append(new_entity(in_pdf=rng.random() < LISTED_SHARE))

    # -- PDF chunks: one per listed logical name ----------------------------
    listed = {}
    order = []
    rem2_by_name = {}
    for ent in entities:
        nm = ent["primary"]
        if ent["in_pdf"] and nm != "UNKNOWN" and nm not in listed:
            shared = ent.get("share_rem2_with")
            if shared is not None and shared in rem2_by_name:
                numbers, programme = rem2_by_name[shared]
            else:
                numbers = ["%s-%06d" % (rng.choice(["SY", "LY", "RU", "IR", "BY", "KP"]),
                                        rng.randrange(10 ** 6))
                           for _ in range(rng.choice((1, 1, 1, 2)))]
                programme = rng.choice(PROGRAMMES)
            rem2_by_name[nm] = (numbers, programme)
            listed[nm] = True
            order.append((nm, numbers, programme))
        for alias in ent["extra"]:
            if alias not in listed and rng.random() < ALIAS_LISTED_SHARE:
                numbers = ["AL-%06d" % rng.randrange(10 ** 6)]
                programme = rng.choice(PROGRAMMES)
                listed[alias] = True
                order.append((alias, numbers, programme))
    rng.shuffle(order)
    # collisions: some names listed twice with a different entry (first wins)
    for _ in range(max(1, len(order) // 200)):
        nm, _, _ = order[rng.randrange(len(order))]
        order.insert(rng.randrange(len(order) + 1),
                     (nm, ["CX-%06d" % rng.randrange(10 ** 6)], rng.choice(PROGRAMMES)))
    # chunks whose name is not Latin contribute nothing to the index
    for _ in range(max(1, len(order) // 300)):
        order.insert(rng.randrange(len(order) + 1),
                     (rng.choice(CYRILLIC), ["RU-%06d" % rng.randrange(10 ** 6)], "RUSSIA"))

    # -- documents ----------------------------------------------------------
    kinds = _doc_kinds(rng, n_docs)
    per_doc = -(-len(order) // n_docs)
    pdf_dir = os.path.join(out_dir, "pdf")
    os.makedirs(pdf_dir, exist_ok=True)
    index = {}
    bytes_in = 0
    entries_readable = 0
    for d in range(n_docs):
        kind = kinds[d]
        chunk_specs = order[d * per_doc:(d + 1) * per_doc]
        lines = ["EU Sanctions PDF report %d" % (d + 1)]
        entries = []
        for j, (nm, numbers, programme) in enumerate(chunk_specs):
            lines.append("Entity %d" % (j + 1))
            chunk, shown = _chunk_lines(rng, nm, numbers, programme)
            lines += chunk
            entries.append((shown, _rem2_of(numbers, programme)))
        pages = ["\n".join(lines[p:p + 6 * CHUNKS_PER_PAGE])
                 for p in range(0, len(lines), 6 * CHUNKS_PER_PAGE)]
        data = pdf.write(pages, kind)
        path = os.path.join(pdf_dir, "report_%05d.pdf" % (d + 1))
        with open(path, "wb") as f:
            f.write(data)
        bytes_in += len(data)
        if kind in pdf.CORRUPT_KINDS:
            continue
        entries_readable += len(entries)
        for shown, rem2 in entries:
            if not _latin(shown):
                continue
            for key in key_variants(clean_name(shown)):
                if key and key not in index:
                    index[key] = rem2

    probe_dir = os.path.join(out_dir, "eol_probe")
    os.makedirs(probe_dir)
    with open(os.path.join(probe_dir, "report_00001.pdf"), "wb") as f:
        f.write(pdf.write([eol_probe_line(p + 1) for p in range(EOL_PROBE_PAGES)], "aes",
                          cr_pages=range(1, EOL_PROBE_PAGES, 2)))

    # -- feed -----------------------------------------------------------------
    feed_dir = os.path.join(out_dir, "feed")
    os.makedirs(feed_dir, exist_ok=True)
    with open(os.path.join(feed_dir, "feed.xml"), "w", encoding="utf-8") as f:
        f.write('<export xmlns="http://eu.europa.ec/fpi/fsd/export">\n')
        for ent in entities:
            f.write(_entity_xml(rng, ent))
        f.write("</export>\n")

    # -- ground truth ---------------------------------------------------------
    full_names, cands = [], []
    for ent in entities:
        full_names.append(ent["primary"])
        cand = ""
        if ent["primary"] != "UNKNOWN":
            for nm in [ent["primary"]] + ent["extra"]:
                hit = next((index[k] for k in key_variants(nm) if k and k in index), None)
                if hit is not None:
                    cand = hit
                    break
        cands.append(cand)
    rem2, yellow, red, branch = rem2_fill(full_names, cands)
    branches = {}
    for b in branch:
        branches[b] = branches.get(b, 0) + 1
    truth = {
        "seed": seed,
        "entities": len(entities),
        "docs": n_docs,
        "docs_corrupt": sum(1 for k in kinds if k in pdf.CORRUPT_KINDS),
        "doc_kinds": {k: kinds.count(k) for k in sorted(set(kinds))},
        "chunks": len(order),
        "entries_readable": entries_readable,
        "pdf_bytes": bytes_in,
        "index_keys": len(index),
        "probe_hits": sum(1 for c in cands if c),
        "matched": sum(1 for r in rem2 if r),
        "flag_rem2_missing": sum(yellow),
        "flag_rem2_conflict": sum(red),
        "flag_name_missing": sum(1 for nm in full_names if nm == "UNKNOWN"),
        "flag_category_missing": sum(1 for e in entities if e["category"] is None),
        "branches": dict(sorted(branches.items())),
        "eol_probe_pages": EOL_PROBE_PAGES,
        "eol_probe_cr_pages": len(range(1, EOL_PROBE_PAGES, 2)),
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth


def _latin(name):
    return re.fullmatch(r"[A-Za-z0-9 .,'\-()À-ÖØ-öø-ɏ]+", name) is not None


def _doc_kinds(rng, n_docs):
    """Mostly Flate; one document of every other writer variant."""
    special = ["png", "objstm", "rc4", "aes", "corrupt_header", "corrupt_stream"]
    kinds = ["flate"] * max(0, n_docs - len(special)) + special[:n_docs]
    rng.shuffle(kinds)
    return kinds
