"""Seeded inputs for the knowledge-graph workloads.

`kg_inputs` writes a facility JSON (phase 1 of the ETL) and an
Abfall-ABC CSV (phase 2) whose cells cover every parse path listed in
FIXTURES.md, and returns the counts the ETL must produce from them. The
expected counts are derived from the generator's own model of each cell,
not from the program. `chat_requests` builds the Cypher request mix of
the `kg_chat` workload. The same seed always gives the same bytes.
"""
import csv
import hashlib
import io
import json
import random

STREAMS = ["Restabfalltonne", "Biotonne", "Altpapiertonne", "Verpackungstonne",
           "Verpackungstonne (Gelbe Tonne)"]

# Facility names the program knows (WasteParse.knownFacilityNames) in
# their canonical form, so they are found inside long concatenated cells.
KNOWN_FACILITIES = [
    "Wertstoffhof Nord", "Wertstoffhof West", "Wertstoffhof Süd",
    "Wertstoffhof Ost", "Schadstoffsammlung", "Fachhandel / Hersteller",
    "Recyclingzentrum", "Kleiderspende", "Möbelspende", "Wertstoffinsel",
    "Altglascontainer", "Deponiepark Wicker", "FES-Servicecenter",
    "Kofferraumservice", "FES-Abfallumladeanlage",
    "Mobile Elektrokleingerätesammlung"]

# Known names that may be joined into one >30-character single-line cell;
# none is a substring of another or of a join of two of them.
CONCAT_PARTS = ["Wertstoffhof Nord", "Wertstoffhof West", "Wertstoffhof Süd",
                "Wertstoffhof Ost", "Schadstoffsammlung", "Recyclingzentrum",
                "Kofferraumservice"]

# Spelling variants mapped by WasteParse.facilityNameMap -> canonical.
VARIANTS = {
    "Fachhandel / Herstelle": "Fachhandel / Hersteller",
    "Fachhandel/Hersteller": "Fachhandel / Hersteller",
    "Schadstoffsammlung FES": "Schadstoffsammlung",
    "Schadstoffsammlung \tFES": "Schadstoffsammlung",
    "Schadstoffmobil FES": "Schadstoffsammlung",
    "Abfallumladeanlage FES": "FES-Abfallumladeanlage",
    "Mobile Elektrokleingerätesam-mlung": "Mobile Elektrokleingerätesammlung",
    "Restmülltonne": "Restabfalltonne",
}

# Notes the parser drops: no target comes out of them.
NOTES = ["Laut FES: Kleinmengen", "Hinweis: bitte zerkleinern",
         "Kartons bitte falten", "Laut FES: nur haushaltsübliche Mengen"]

WORDS = ["Altmetall", "Batterie", "Bauschutt", "Dachpappe", "Eierkarton",
         "Farbeimer", "Gartenschlauch", "Glühbirne", "Holzpalette",
         "Joghurtbecher", "Kaffeefilter", "Lampenschirm", "Matratze",
         "Nagellack", "Ölkanister", "Pizzakarton", "Regenschirm",
         "Spraydose", "Teppich", "Übertopf", "Verbandskasten", "Wäscheleine",
         "Zahnbürste", "Bügeleisen", "Fahrradreifen", "Gießkanne"]

HEADER = ["Abfallart", "Entsorgungsweg", "Adresse", "Öffnungszeiten", "Kontakt"]


def uid(name):
    """graft.core.Uid: the first 16 hex digits of sha256(name)."""
    return hashlib.sha256(name.encode("utf-8")).hexdigest()[:16]


def _synthetic_facility(i):
    return f"Sammelstelle {i:04d}"


def _cell(rng, facilities, unmatched):
    """One Entsorgungsweg cell and the targets the parser must get from
    it, as (text, streams, facilities)."""
    kind = rng.randrange(11)
    if kind == 0:
        s = rng.choice(STREAMS)
        return s, {s}, set()
    if kind == 1:
        f = rng.choice(facilities)
        return f, set(), {f}
    if kind == 2:  # spelling variant or synonym
        v = rng.choice(sorted(VARIANTS))
        c = VARIANTS[v]
        return v, ({c} if c in STREAMS else set()), ({c} if c not in STREAMS else set())
    if kind == 3:  # multi-line: stream + note
        s = rng.choice(STREAMS)
        return f"{s}\n{rng.choice(NOTES)}", {s}, set()
    if kind == 4:  # multi-line: facilities and a stream
        fs = rng.sample(facilities, 2)
        s = rng.choice(STREAMS)
        return "\n".join(fs + [s]), {s}, set(fs)
    if kind == 5:  # long single line: consume-once extraction
        parts = rng.sample(CONCAT_PARTS, 3)
        lead = rng.choice(["Biotonne ", ""])
        streams = {"Biotonne"} if lead else set()
        return lead + " ".join(parts), streams, set(parts)
    if kind == 6:  # dash: no targets
        return "-", set(), set()
    if kind == 7:  # a facility that is not in the facility file
        f = rng.choice(unmatched)
        return f, set(), {f}
    if kind == 8:  # multi-line with a variant line and a note
        v = rng.choice(["Fachhandel / Herstelle", "Schadstoffsammlung FES"])
        return f"{v}\n{rng.choice(NOTES)}", set(), {VARIANTS[v]}
    if kind == 9:  # multi-line, two streams
        a, b = rng.sample(STREAMS, 2)
        return f"{a}\n{b}", {a, b}, set()
    s = rng.choice(STREAMS)
    f = rng.choice(facilities)
    return f"{f}\n{s}", {s}, {f}


def kg_inputs(seed, n_items, n_facilities, fac_path, csv_path):
    """Write both ETL inputs; return the expected ETL counts and the
    item names (for the chat request mix)."""
    rng = random.Random(f"kg-{seed}")
    synthetic = [_synthetic_facility(i) for i in range(n_facilities)]
    facilities = KNOWN_FACILITIES + synthetic
    unmatched = [_synthetic_facility(9000 + i) for i in range(20)]

    # phase 1: uuid -> [facility structs]; each facility is listed under
    # 1-3 uuids (dedup-merge by name, first seen wins, later entries fill
    # blank fields) and some entries have a blank name (dropped)
    fields = ["address", "opening_hours", "contact", "additional_info", "link"]
    entries = []
    for i, name in enumerate(facilities):
        for k in range(rng.randint(1, 3)):
            e = {"name": name if k == 0 or rng.random() < 0.5 else f"  {name} "}
            for fld in fields:
                e[fld] = f"{fld} {i}.{k}" if rng.random() < 0.5 else ""
            entries.append(e)
    for i in range(max(1, n_facilities // 10)):
        entries.append({"name": " " if i % 2 else "", "address": "ignore me",
                        "opening_hours": "", "contact": "", "additional_info": "",
                        "link": ""})
    rng.shuffle(entries)
    doc, pos = {}, 0
    while pos < len(entries):
        k = rng.randint(1, 4)
        doc[f"uuid-{len(doc):06d}"] = entries[pos:pos + k]
        pos += k
    with open(fac_path, "w", encoding="utf-8") as f:
        json.dump(doc, f, ensure_ascii=False)

    # phase 2: the Abfall-ABC CSV
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(HEADER)
    items = {}  # name -> (streams, facilities)
    letter = None
    for i in range(n_items):
        word = WORDS[i % len(WORDS)]
        if word[0] != letter:  # section marker row: one letter, empty cell
            letter = word[0]
            w.writerow([letter, "", "", "", ""])
        name = f"{word} {i:06d}"
        if i % 97 == 5:
            name = f"{word}, ausgehärtet {i:06d}"  # quoted cell
        text, s, fs = _cell(rng, facilities, unmatched)
        w.writerow([name if i % 53 else f"  {name}", text, "", "", ""])
        old = items.setdefault(name, (set(), set()))
        old[0].update(s), old[1].update(fs)
        if i % 41 == 7:  # the same item again: targets are merged
            text, s, fs = _cell(rng, facilities, unmatched)
            w.writerow([name, text, "", "", ""])
            old[0].update(s), old[1].update(fs)
        if i % 89 == 3:  # blank name: dropped
            w.writerow(["   ", rng.choice(STREAMS), "", "", ""])
    with open(csv_path, "w", encoding="utf-8", newline="") as f:
        f.write(buf.getvalue())

    known = set(facilities)
    streams = set().union(*(s for s, _ in items.values()))
    disposed_in = sum(len(s) for s, _ in items.values())
    disposed_at = sum(len(fs & known) for _, fs in items.values())
    labels = {"Facility": len(facilities), "WasteItem": len(items),
              "WasteStream": len(streams)}
    expected = {
        "facilities": len(facilities), "items": len(items), "streams": len(streams),
        "edges": disposed_in + disposed_at, "labels": labels,
        "nodes": sum(labels.values()),
    }
    return expected, sorted(items)


# The reference's validation reads (label histogram, stream distribution,
# orphan anti-join, top facilities, two-hop sharing, a *1..2 expansion)
# plus the per-item lookup the chatbot issues most.
READS = {
    "labels": "MATCH (n) RETURN labels(n)[0] AS label, count(*) AS count "
              "ORDER BY count DESC, label",
    "streams": "MATCH (w:WasteItem)-[:DISPOSED_IN]->(s:WasteStream) "
               "RETURN s.name AS stream, count(w) AS items ORDER BY items DESC, stream",
    "orphans": "MATCH (w:WasteItem) WHERE NOT (w)-[:DISPOSED_IN|DISPOSED_AT]->() "
               "RETURN w.name AS name",
    "top_facilities": "MATCH (f:Facility)<-[:DISPOSED_AT]-(w:WasteItem) "
                      "RETURN f.name AS facility, count(w) AS items "
                      "ORDER BY items DESC, facility LIMIT 10",
    "sharing": "MATCH (a:WasteItem {name: $name})-[:DISPOSED_AT]->(f:Facility)"
               "<-[:DISPOSED_AT]-(b:WasteItem) WHERE b.name <> $name "
               "RETURN f.name AS facility, count(b) AS others",
    "hop12": "MATCH (w:WasteItem {name: $name})-[*1..2]->(t) "
             "RETURN DISTINCT labels(t)[0] AS label, t.name AS target",
    "lookup": "MATCH (w:WasteItem {name: $name})-[r]->(t) "
              "RETURN w.uid AS uid, type(r) AS rel, t.name AS target",
}

# The reference's per-item write templates (waste_items.py:366-396), verbatim.
WRITES = {
    "merge_item": """MERGE (w:WasteItem {name: $name})
ON CREATE SET
    w.uid = $uid,
    w.created_at = datetime()
ON MATCH SET
    w.updated_at = datetime()""",
    "merge_disposed_in": """MATCH (w:WasteItem {name: $item_name})
MERGE (s:WasteStream {name: $stream_name})
ON CREATE SET
    s.uid = $stream_uid,
    s.created_at = datetime()
MERGE (w)-[r:DISPOSED_IN]->(s)
ON CREATE SET r.created_at = datetime()""",
}

# One chat session: the reads of a block in a fixed template order, then
# the write pair and a lookup of the written item. A fixed order keeps
# blocks comparable; only the item names differ.
BLOCK_READS = ["labels", "lookup", "sharing", "hop12", "lookup", "streams",
               "lookup", "sharing", "orphans", "lookup", "hop12", "top_facilities",
               "lookup", "sharing", "hop12", "lookup", "lookup"]
BLOCK = len(BLOCK_READS) + 3


def _read(tpl, name=None):
    return {"kind": "read", "tpl": tpl, "cypher": READS[tpl],
            "params": {} if name is None else {"name": name}}


def _writes(item, stream):
    return [
        {"kind": "write", "tpl": "merge_item", "cypher": WRITES["merge_item"],
         "params": {"name": item, "uid": uid(item)}},
        {"kind": "write", "tpl": "merge_disposed_in", "cypher": WRITES["merge_disposed_in"],
         "params": {"item_name": item, "stream_name": stream, "stream_uid": uid(stream)}},
        _read("lookup", item),
    ]


def chat_requests(seed, item_names, n_blocks, zipf_s=1.1):
    """`n_blocks` blocks of BLOCK requests: the reads of BLOCK_READS with
    item names drawn Zipf-skewed from a seeded ranking, then one write
    pair (item MERGE, then DISPOSED_IN MERGE; half on new items) and a
    lookup of the written item. Also returns a warm-up block that runs
    each template once on the least popular item."""
    rng = random.Random(f"chat-{seed}")
    ranked = list(item_names)
    rng.shuffle(ranked)
    weights = [1.0 / (r + 1) ** zipf_s for r in range(len(ranked))]
    named = {"sharing", "hop12", "lookup"}

    out = []
    for b in range(n_blocks):
        for t in BLOCK_READS:
            out.append(_read(t, rng.choices(ranked, weights)[0] if t in named else None))
        new = rng.random() < 0.5
        item = f"Neuzugang {seed}-{b:05d}" if new else rng.choices(ranked, weights)[0]
        out.extend(_writes(item, rng.choice(STREAMS)))
    warm = [_read(t, ranked[-1] if t in named else None) for t in READS]
    warm.extend(_writes(f"Neuzugang {seed}-warm", STREAMS[0]))
    return out, warm
