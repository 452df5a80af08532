"""Seeded input generators for the graft benchmark.

Both generators are pure functions of their seed and parameters: the same
seed gives byte-identical files. Neither uses graft code; the ISO 2709
writer below is written from the format description (leader, directory,
field data, terminators) so that graft's reader is never checked against
graft's own writer.
"""

import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

FIELD_END = b"\x1e"
SUBFIELD = b"\x1f"
RECORD_END = b"\x1d"

HERE = os.path.dirname(os.path.abspath(__file__))
MARC_TEMPLATES = os.path.join(
    HERE, "..", "src", "test", "resources", "fixtures", "test_data.utf8.json")


# ---------------------------------------------------------------- MARC --

def iso2709(leader, fields):
    """One ISO 2709 record, UTF-8. `fields` holds (tag, value) pairs where a
    control field's value is a str and a data field's value is
    (ind1, ind2, [(code, text), ...])."""
    directory, data = [], bytearray()
    for tag, value in fields:
        if isinstance(value, str):
            body = value.encode("utf-8") + FIELD_END
        else:
            ind1, ind2, subs = value
            body = (ind1 + ind2).encode("utf-8") + b"".join(
                SUBFIELD + code.encode("utf-8") + text.encode("utf-8")
                for code, text in subs) + FIELD_END
        directory.append(b"%s%04d%05d" % (tag.encode("ascii"), len(body), len(data)))
        data += body
    dir_bytes = b"".join(directory) + FIELD_END
    base = 24 + len(dir_bytes)
    total = base + len(data) + len(RECORD_END)
    if total > 99999:
        raise ValueError("record too long for ISO 2709: %d bytes" % total)
    # positions 9 ('a' = UCS/Unicode), 10-11 and 20-23 are fixed by the format
    head = ("%05d" % total) + leader[5:9] + "a22" + ("%05d" % base) + leader[17:20] + "4500"
    return head.encode("ascii") + dir_bytes + bytes(data) + RECORD_END


def _marc_templates():
    out = []
    with open(MARC_TEMPLATES, encoding="utf-8") as f:
        for line in f:
            rec = json.loads(line)
            fields = []
            for fd in rec["fields"]:
                (tag, v), = fd.items()
                if isinstance(v, str):
                    fields.append((tag, v))
                else:
                    subs = [tuple(next(iter(s.items()))) for s in v["subfields"]]
                    fields.append((tag, (v["ind1"], v["ind2"], subs)))
            out.append((rec["leader"], fields))
    return out


TITLE_WORDS = (
    "annals atlas ballads bridges canals chronicle cities coastlines colonial "
    "commerce conversations currents diaries documents economy empires "
    "essays festivals fisheries folklore forests frontiers gardens harbors "
    "histories islands journeys kingdoms landscapes letters libraries maps "
    "markets memoirs migrations mountains music navigation observations "
    "orchards parishes poems railways records reform rivers settlements "
    "sketches songs studies surveys textiles theatre treaties valleys "
    "villages voyages weavers winters workshops").split()
NOTE_WORDS = (
    "bibliography index illustrations includes references edition reprint "
    "translated revised volume series microfilm original manuscript copy "
    "library catalog record statement responsibility summary contents notes "
    "portraits maps tables appendix printed published").split()
ALT_SCRIPT = ["Летопись", "Сборник", "Записки", "סיפורים", "ספר", "كتاب", "مجموعة"]


def _title(rng):
    words = rng.sample(TITLE_WORDS, rng.randint(2, 5))
    words[0] = words[0].capitalize()
    # no trailing punctuation: the expected title_display is the text itself
    return " ".join(words) + " " + str(rng.randint(1, 9999))


def _strip_alt_script(fields):
    out = []
    for tag, v in fields:
        if tag in ("880", "066"):
            continue
        if not isinstance(v, str):
            v = (v[0], v[1], [s for s in v[2] if s[0] != "6"])
        out.append((tag, v))
    return out


def marc_batches(out_dir, seed, batches=3, files_per_batch=4,
                 records_per_file=800, record_bytes=2000, share_880=0.3):
    """Write `batches` directories of binary MARC files. Returns the
    generator parameters and the expected (001, 245$a) of every record,
    per batch."""
    rng = random.Random(seed * 7919 + 1)
    templates = _marc_templates()
    expect = []
    serial = 0
    for b in range(batches):
        bdir = os.path.join(out_dir, "batch_%d" % b)
        os.makedirs(bdir, exist_ok=True)
        batch_expect = []
        for j in range(files_per_batch):
            chunks = []
            for _ in range(records_per_file):
                serial += 1
                leader, fields = templates[rng.randrange(len(templates))]
                control_no = "pb%d-%07d" % (seed, serial)
                title = _title(rng)
                with_880 = rng.random() < share_880
                if not with_880:
                    fields = _strip_alt_script(fields)
                new = []
                for tag, v in fields:
                    if tag == "001":
                        v = control_no
                    elif tag == "245":
                        keep = [s for s in v[2] if s[0] in ("c", "6")]
                        v = (v[0], v[1], [("a", title)] + keep)
                    new.append((tag, v))
                if with_880 and not any(t == "880" for t, _ in new):
                    new.append(("500", (" ", " ", [("6", "880-01"), ("a", "Original title note")])))
                    new.append(("880", (" ", " ", [("6", "500-01"),
                                                   ("a", rng.choice(ALT_SCRIPT))])))
                # seeded variation: subject order and note padding to a size
                subjects = [f for f in new if f[0] == "650"]
                rng.shuffle(subjects)
                it = iter(subjects)
                new = [next(it) if f[0] == "650" else f for f in new]
                target = int(record_bytes * rng.uniform(0.6, 1.4))
                size = len(iso2709(leader, new))
                while size < target:
                    note = " ".join(rng.choice(NOTE_WORDS) for _ in range(rng.randint(8, 24)))
                    new.append(("500", (" ", " ", [("a", note.capitalize() + ".")])))
                    # directory entry + indicators + delimiter/code + text + terminator
                    size += 12 + 2 + 2 + len(note) + 1 + 1
                chunks.append(iso2709(leader, new))
                batch_expect.append((control_no, title))
            with open(os.path.join(bdir, "part_%d.mrc" % j), "wb") as f:
                f.write(b"".join(chunks))
        expect.append(batch_expect)
    params = {"batches": batches, "files_per_batch": files_per_batch,
              "records_per_file": records_per_file, "record_bytes_mean": record_bytes,
              "share_880": share_880}
    return params, expect


# ------------------------------------------------------------ corpus --

STOP = {
    "en": "the and of to in is was with this that for on as it by from at".split(),
    "es": "el los una pero como de la que en y por con para del se las más año".split(),
    "de": "der und nicht auch eine die das mit von zu den ist sich des im für über".split(),
    # "e\u0301te\u0301" is the decomposed form of "été": NFC has work to do
    "fr": "le les dans avec pour de la et des un une est en du que sur déjà e\u0301te\u0301".split(),
    "xx": "ka lo mi tu na ve ri so".split(),
}
LANG_MIX = [("en", 0.55), ("es", 0.15), ("de", 0.13), ("fr", 0.12), ("xx", 0.05)]
SYLLABLES = ("ba be bi bo bu da de di do du fa fe fi fo ka ke ki ko la le li lo "
             "ma me mi mo na ne ni no pa pe pi po ra re ri ro sa se si so ta "
             "te ti to va ve vi vo za ze zi zo").split()


def _vocab(rng, n):
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _text(rng, lang, vocab, n_words):
    stop = STOP[lang]
    return " ".join(rng.choice(stop) if rng.random() < 0.3 else rng.choice(vocab)
                    for _ in range(n_words))


def _near_copy(rng, text, vocab, edits):
    words = text.split(" ")
    for _ in range(edits):
        words[rng.randrange(len(words))] = rng.choice(vocab)
    return " ".join(words)


def wrap_html(text, i):
    return ("<html><head><style>p{margin:0}</style><script>var page=%d;</script>"
            "</head><body><div><p>%s</p></div></body></html>" % (i, text))


def _docs_table(rows):
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# day-0 ids are below this; the ids of delta k start at (k + 1) * DELTA_ID_BASE
DELTA_ID_BASE = 10_000_000


def corpus(out_dir, seed, docs=2000, words_mean=160, exact_dup_share=0.08,
           near_dup_share=0.08, contaminated_share=0.02, heldout=200,
           increments=1, delta_ratio=0.1, replant_share=0.3):
    """Write the day-0 corpus (documents.parquet schema), the held-out
    decontamination set and `increments` HTML-wrapped daily deltas.
    Returns the generator parameters and the planted exact-duplicate
    groups (lists of doc ids sharing one text)."""
    rng = random.Random(seed * 104729 + 2)
    vocab = _vocab(rng, 3000)
    langs = [l for l, _ in LANG_MIX]
    weights = [w for _, w in LANG_MIX]

    bench = [_text(rng, "en", vocab, rng.randint(40, 60)) for _ in range(heldout)]
    _write(pa.table({"text": pa.array(bench, pa.string())}),
           os.path.join(out_dir, "heldout", "part-0.parquet"))

    n_exact = int(docs * exact_dup_share)
    n_near = int(docs * near_dup_share)
    n_base = docs - n_exact - n_near
    rows = []
    for i in range(n_base):
        lang = rng.choices(langs, weights)[0]
        n = max(20, int(rng.gauss(words_mean, words_mean * 0.3)))
        text = _text(rng, lang, vocab, n)
        if rng.random() < contaminated_share:
            b = bench[rng.randrange(heldout)].split(" ")
            start = rng.randrange(len(b) - 12)
            words = text.split(" ")
            pos = rng.randrange(len(words))
            text = " ".join(words[:pos] + b[start:start + 12] + words[pos:])
        rows.append((1000 + i, text, lang, "src%d" % (i % 7)))
    next_id = 1000 + n_base
    groups = {}
    for _ in range(n_exact):
        src = rows[rng.randrange(n_base)]
        groups.setdefault(src[0], [src[0]]).append(next_id)
        rows.append((next_id, src[1], src[2], src[3]))
        next_id += 1
    for _ in range(n_near):
        src = rows[rng.randrange(n_base)]
        rows.append((next_id, _near_copy(rng, src[1], vocab, 2), src[2], src[3]))
        next_id += 1
    rng.shuffle(rows)
    _write(_docs_table(rows), os.path.join(out_dir, "day0", "documents.parquet"))

    delta_n = max(1, int(docs * delta_ratio))
    for k in range(increments):
        delta = []
        base_id = DELTA_ID_BASE * (k + 1)
        for i in range(delta_n):
            if rng.random() < replant_share:
                src = rows[rng.randrange(len(rows))]
                text, lang = src[1], src[2]
            else:
                lang = rng.choices(langs, weights)[0]
                text = _text(rng, lang, vocab, max(20, int(rng.gauss(words_mean, words_mean * 0.3))))
            delta.append((base_id + i, wrap_html(text, base_id + i), lang, "crawl%d" % k))
        _write(_docs_table(delta), os.path.join(out_dir, "delta_%d" % k, "part-0.parquet"))

    params = {"docs": docs, "words_mean": words_mean, "lang_mix": dict(LANG_MIX),
              "exact_dup_share": exact_dup_share, "near_dup_share": near_dup_share,
              "contaminated_share": contaminated_share, "heldout": heldout,
              "increments": increments, "delta_ratio": delta_ratio,
              "replant_share": replant_share}
    return params, sorted(groups.values())
