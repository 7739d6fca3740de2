"""Seeded input generators for the end-to-end benchmark.

Every generator is a pure function of (seed, scale): the same seed writes
byte-identical inputs. The program under test only ever sees the files
written here; the properties each generator prints (skew, mention share,
duplicate share, quad counts) describe what the run exercised.
"""
import datetime
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

EX = "http://ex.org/"
FOAF = "http://xmlns.com/foaf/0.1/"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
XSD_INT = "<http://www.w3.org/2001/XMLSchema#integer>"
EVENT_TYPES = ["click", "view", "purchase", "error", "search"]


def _vocab(rng, n):
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def _zipf_sizes(total, n, s):
    """`total` items split over `n` ranks in exact Zipf(s) proportions."""
    w = [1.0 / (k + 1) ** s for k in range(n)]
    z = sum(w)
    sizes = [max(1, int(total * x / z)) for x in w]
    sizes[0] += total - sum(sizes)
    return sizes


def _zipf_assign(rng, total, keys, s):
    """A shuffled list of `total` keys from range(keys), key k taking the
    exact Zipf(s) share of rank k. Keys keep their ranks across seeds, so
    hash partitioning spreads the hot keys the same way for every seed:
    the seed changes the content and its order, not the cost profile."""
    out = [k for k, n in enumerate(_zipf_sizes(total, keys, s)) for _ in range(n)]
    rng.shuffle(out)
    return out


# ------------------------------------------------------------- kg_commit

def gen_kg(out_dir, seed, events, users, docs, nations):
    """events/documents/nation parquet for `Kg.canonicalTriplesOver`.

    Conversation sizes are Zipf(1.1) over `users`; `Transcripts` makes
    every 4th event mention the hot entity 0 and appends one entity
    surface per turn, so the mention share is set by how many of the 25
    entity ids the `nations` table covers. A tenth of the documents also
    embed a surface of their own.
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    vocab = _vocab(rng, 4000)
    uids = _zipf_assign(rng, events, users, 1.1)
    t0 = datetime.datetime(2024, 1, 1)
    pq.write_table(pa.table({
        "event_id": pa.array(range(events), pa.int64()),
        "ts": pa.array([t0 + datetime.timedelta(seconds=7 * i)
                        for i in range(events)], pa.timestamp("us")),
        "user_id": pa.array(uids, pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(events)],
        "value": [round(rng.random() * 100, 2) for _ in range(events)],
        "props": ["{}"] * events,
    }), os.path.join(out_dir, "events.parquet"))

    texts, embedded = [], 0
    for _ in range(docs):
        words = [rng.choice(vocab) for _ in range(rng.randint(8, 40))]
        if rng.random() < 0.1:
            embedded += 1
            k = rng.randrange(nations)
            words.insert(rng.randrange(len(words)),
                         rng.choice([f"NATION_{k}", f"nation {k}", f"Nation-{k}"]))
        texts.append(" ".join(words))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": texts,
        "lang": ["en"] * docs,
        "source": ["gen"] * docs,
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(nations), pa.int32()),
        "n_name": [f"NATION{k}" for k in range(nations)],
        "n_regionkey": pa.array([k % 5 for k in range(nations)], pa.int32()),
    }), os.path.join(out_dir, "nation.parquet"))

    sizes = {}
    for u in uids:
        sizes[u] = sizes.get(u, 0) + 1
    ordered = sorted(sizes.values(), reverse=True)
    top = max(1, len(ordered) // 100)
    ent = [0 if e % 4 == 0 else e % 25 for e in range(events)]
    return {
        "turns": events, "conversations": len(sizes), "documents": docs,
        "gazetteer_entities": nations,
        "conv_size_max": ordered[0],
        "conv_size_top1pct_share": round(sum(ordered[:top]) / events, 4),
        "turn_mention_share": round(sum(1 for k in ent if k < nations) / events, 4),
        "hot_entity_share": round(sum(1 for k in ent if k == 0) / events, 4),
        "doc_mention_share": round(embedded / docs, 4),
    }


# ------------------------------------------------- integrate / sparql_serve

def gen_quads(seed, persons, graphs):
    """People, organisations, cities and countries as (g, s, p, o) quads.

    Employer choice is Zipf(1.0) so a few organisations are hot join keys;
    half the people carry an e-mail (the OPTIONAL side), each person knows
    three others. Every subject's triples live in one named graph.
    """
    rng = random.Random(seed)
    orgs, cities, countries = max(4, persons // 20), 200, 20
    employer = _zipf_assign(rng, persons, orgs, 1.0)
    quads = []

    def g(k):
        return f"<{EX}g/{k}>"
    for c in range(countries):
        s = f"<{EX}country/{c}>"
        quads.append((g(c % graphs), s, RDF_TYPE, f"<{EX}Country>"))
        quads.append((g(c % graphs), s, f"<{EX}label>", f'"Country {c}"'))
    for c in range(cities):
        s = f"<{EX}city/{c}>"
        quads.append((g(c % graphs), s, RDF_TYPE, f"<{EX}City>"))
        quads.append((g(c % graphs), s, f"<{EX}country>",
                      f"<{EX}country/{rng.randrange(countries)}>"))
    for o in range(orgs):
        s = f"<{EX}org/{o}>"
        quads.append((g(o % graphs), s, RDF_TYPE, f"<{EX}Org>"))
        quads.append((g(o % graphs), s, f"<{EX}label>", f'"Org {o}"'))
        quads.append((g(o % graphs), s, f"<{EX}locatedIn>",
                      f"<{EX}city/{rng.randrange(cities)}>"))
    for p in range(persons):
        s, gp = f"<{EX}p/{p}>", g(p % graphs)
        quads.append((gp, s, RDF_TYPE, f"<{EX}Person>"))
        quads.append((gp, s, f"<{FOAF}name>", f'"Person {p}"'))
        quads.append((gp, s, f"<{EX}age>", f'"{rng.randint(18, 90)}"^^{XSD_INT}'))
        quads.append((gp, s, f"<{EX}worksFor>", f"<{EX}org/{employer[p]}>"))
        for q in sorted({rng.randrange(persons) for _ in range(3)} - {p}):
            quads.append((gp, s, f"<{FOAF}knows>", f"<{EX}p/{q}>"))
        if rng.random() < 0.5:
            quads.append((gp, s, f"<{EX}email>", f'"p{p}@ex.org"'))
    return quads, orgs


def write_nquads(path, quads):
    with open(path, "w", encoding="utf-8") as f:
        for g, s, p, o in quads:
            f.write(f"{s} {p} {o} {g} .\n")


def gen_integrate(out_dir, seed, persons, graphs):
    os.makedirs(out_dir, exist_ok=True)
    quads, orgs = gen_quads(seed, persons, graphs)
    write_nquads(os.path.join(out_dir, "input.nq"), quads)
    pq.write_table(pa.table({k: [q[i] for q in quads] for i, k in
                             enumerate(["graph", "subj", "pred", "obj"])}),
                   os.path.join(out_dir, "quads.parquet"))
    return {"quads": len(quads), "persons": persons, "orgs": orgs,
            "graphs": graphs, "input_bytes": os.path.getsize(
                os.path.join(out_dir, "input.nq"))}


# employer ranks the join requests ask for: the hottest organisation plus
# a fixed spread of colder ones, so every seed asks for the same sizes
JOIN_RANKS = [0, 10, 60, 200]


def gen_serve(out_dir, seed, persons, graphs):
    """The served N-Quads file plus `requests.txt`, the seeded request
    parameters: 7 point-lookup subjects, 2 graphs to CONSTRUCT and the
    organisations at JOIN_RANKS."""
    os.makedirs(out_dir, exist_ok=True)
    quads, orgs = gen_quads(seed, persons, graphs)
    write_nquads(os.path.join(out_dir, "input.nq"), quads)
    rng = random.Random(seed + 1)
    staff = {}
    for _, s, p, o in quads:
        if p == f"<{EX}worksFor>":
            staff[o] = staff.get(o, 0) + 1
    by_rank = sorted(staff, key=lambda o: (-staff[o], o))
    lines = [f"point <{EX}p/{rng.randrange(persons)}>" for _ in range(7)]
    lines += [f"graph <{EX}g/{rng.randrange(graphs)}>" for _ in range(2)]
    lines += [f"join {by_rank[r]}" for r in JOIN_RANKS if r < len(by_rank)]
    with open(os.path.join(out_dir, "requests.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return {"quads": len(quads), "persons": persons, "orgs": orgs,
            "graphs": graphs, "hot_org_staff_share": round(staff[by_rank[0]] / persons, 4)}


# ----------------------------------------------------------- dedup_pairs

def gen_dedup(out_dir, seed, docs, dup_share):
    """A document corpus with planted exact and near duplicates.

    Base documents are 40-80 random words, so unrelated documents share
    almost no word 3-shingles. A `dup_share` fraction of the corpus are
    copies of an earlier document: half exact after normalisation (case
    and whitespace changes), half near duplicates (one or two words
    appended, word 3-shingle Jaccard >= 0.95).
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    vocab = _vocab(rng, 20000)
    texts, exact, near = [], 0, 0
    for i in range(docs):
        if i > 10 and rng.random() < dup_share:
            src = texts[rng.randrange(i)]
            if rng.random() < 0.5:
                exact += 1
                texts.append("  " + src.upper() + " ")
            else:
                near += 1
                extra = " ".join(rng.choice(vocab)
                                 for _ in range(rng.randint(1, 2)))
                texts.append(src + " " + extra)
        else:
            texts.append(" ".join(rng.choice(vocab)
                                  for _ in range(rng.randint(40, 80))))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": texts,
    }), os.path.join(out_dir, "docs.parquet"))
    return {"documents": docs, "exact_dup_share": round(exact / docs, 4),
            "near_dup_share": round(near / docs, 4)}
