"""Seeded input generators for the benchmark: nh_etl's CSVs and dashboard
query cycles, and doc_curation's corpus.

Each generator writes the files graft reads and returns the ground truth the
checks in run.py compare against. The truth is known by construction: dirt is
planted on purpose, every value that decides an outcome is kept far from the
threshold that decides it, and hour values are multiples of 0.25 so that every
sum the pipeline takes is exact in double precision, in any order.
"""
import csv
import os
import random
import re
from collections import Counter, defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

# Sizes. A pass over them takes a few seconds on 4 cores (see README.md).
NH_PROVIDERS = 2000
NH_QUARTERS = [(y, q) for y in (2022, 2023) for q in (1, 2, 3, 4)]
NH_PENALTIES = 40000
NH_QM_MEASURES = ["521", "522", "551", "552"]
DOC_BASE = 1500            # distinct source documents before planting
DOC_EVAL = 1000             # held-out eval set for decontamination
DOC_SEQ_LEN = 2048          # packing sequence length

STATES = ["CA", "TX", "FL", "NY", "PA", "OH", "IL", "MI", "NC", "GA", "NJ",
          "VA", "WA", "AZ", "MA", "TN", "IN", "MO", "MD", "WI", "CO", "MN",
          "SC", "AL", "LA", "KY", "OR", "OK", "CT", "UT", "IA", "NV", "AR",
          "MS", "KS", "NM", "NE", "ID", "WV", "HI", "NH", "ME", "MT", "RI",
          "DE", "SD", "ND", "AK", "DC", "VT", "WY", "PR"]

PENALTY_HEADER = ["CMS Certification Number (CCN)", "Penalty Date",
                  "Penalty Type", "Fine Amount",
                  "Payment Denial Length in Days", "State", "Provider Name"]
QM_HEADER = ["CCN", "Measure Code", "Period Start", "Period End",
             "Score Value", "Numerator", "Denominator"]
PBJ_FILES = {
    "PBJ_Daily_Nurse_Staffing_census.csv":
        ["PROVNUM", "STATE", "CY_Qtr", "MDScensus"],
    "PBJ_Daily_Nurse_Staffing_hours.csv":
        ["PROVNUM", "CY_Qtr", "Hrs_RN", "Hrs_LPN", "Hrs_CNA"],
    "PBJ_Daily_Nurse_Staffing_mix.csv":
        ["PROVNUM", "CY_Qtr", "Hrs_RN_ctr", "Hrs_LPN_ctr", "Hrs_CNA_ctr",
         "Hrs_RN_emp", "Hrs_LPN_emp", "Hrs_CNA_emp"],
}
BAD_NUMBERS = ["n/a", "1,204.5", "--"]
BAD_DATES = ["N/A", "pending", "unknown"]


def zipf_weights(n, s=1.1):
    return [1.0 / (r + 1) ** s for r in range(n)]


def parse_num(s):
    """Spark's non-ANSI string -> double cast on the strings we generate."""
    if s is None or s == "":
        return None
    try:
        return float(s)
    except ValueError:
        return None


def normalize_quarter(raw):
    """`(20\\d{2}).*?(\\d)` over the raw value, as graft's normalizeQuarter."""
    m = re.search(r"(20\d{2}).*?(\d)", raw)
    return None if m is None else f"{m.group(1)}-Q{m.group(2)}"


def quarter_hours(rng, lo, hi):
    """Hours as an exact multiple of 0.25, rendered as the CSV would hold it."""
    v = rng.randint(lo * 4, hi * 4) / 4
    return str(int(v)) if v == int(v) else repr(v)


def write_csv(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


# --------------------------------------------------------------- nh_etl

def gen_nh_etl(seed, root):
    """CMS-shaped CSVs (FIXTURES.md B1-B3) under root/build and root/pbj.

    Returns the truth: staged row counts, planted duplicate-key groups, the
    fact_penalty row count and fine cents, per-state view rows, and every
    expected metrics row.
    """
    rng = random.Random(seed * 7919 + 1)
    build_dir = os.path.join(root, "build")
    pbj_dir = os.path.join(root, "pbj")
    os.makedirs(build_dir)
    os.makedirs(pbj_dir)

    state_w = zipf_weights(len(STATES))
    provs = []
    for i in range(NH_PROVIDERS):
        ccn = f"{rng.randint(1, 99):02d}{5000 + i:04d}"
        provs.append((ccn, rng.choices(STATES, state_w)[0], f"Care Home {i}"))

    # --- penalties: three files; the smallest lacks the trailing column
    pen_rows, pen_truth_rows = [], []
    for _ in range(NH_PENALTIES):
        ccn, st, name = provs[rng.randrange(NH_PROVIDERS)]
        d = (rng.randint(1, 12), rng.randint(1, 28), rng.randint(2021, 2024))
        date_s = f"{d[0]:02d}/{d[1]:02d}/{d[2]}"
        date_v = d
        if rng.random() < 0.5:
            ptype, cents = "Fine", rng.randint(1, 5000) * 100 + rng.randint(0, 99)
            fine_s, denial = f"{cents // 100}.{cents % 100:02d}", ""
            if rng.random() < 0.03:          # zero fine: counted, not a fine
                fine_s, cents = "0", 0
        else:
            ptype, cents, fine_s = "Payment Denial", None, ""
            denial = str(rng.randint(1, 90))
        u = rng.random()
        if u < 0.01:                         # unparseable number
            fine_s, cents = rng.choice(BAD_NUMBERS), None
        elif u < 0.02:                       # unparseable date
            date_s, date_v = rng.choice(BAD_DATES), None
        pen_rows.append([ccn, date_s, ptype, fine_s, denial, st, name])
        pen_truth_rows.append(((ccn, date_v, ptype), st, cents))
    # ~1% duplicate natural keys: exact repeats of earlier rows
    for _ in range(NH_PENALTIES // 100):
        j = rng.randrange(len(pen_rows))
        pen_rows.append(list(pen_rows[j]))
        pen_truth_rows.append(pen_truth_rows[j])
    order = list(range(len(pen_rows)))
    rng.shuffle(order)
    cut1, cut2 = int(len(order) * 0.45), int(len(order) * 0.9)
    files = [("NH_Penalties_2023.csv", order[:cut1], False),
             ("NH_Penalties_2024.csv", order[cut1:cut2], False),
             ("NH_Penalties_2024_supplement.csv", order[cut2:], True)]
    for fname, idx, short in files:
        header = PENALTY_HEADER[:-1] if short else PENALTY_HEADER
        write_csv(os.path.join(build_dir, fname), header,
                  [pen_rows[i][:-1] if short else pen_rows[i] for i in idx])

    pen_keys = Counter(k for k, _, _ in pen_truth_rows)
    by_state = defaultdict(lambda: [0, 0, 0])
    for _, st, cents in pen_truth_rows:
        s = by_state[st]
        s[0] += 1
        s[1] += cents or 0
        s[2] += 1 if (cents or 0) > 0 else 0

    # --- quality measures (B2)
    qm_rows, qm_keys = [], Counter()
    for ccn, _, _ in provs:
        for code in NH_QM_MEASURES:
            start, end = "01/01/2023", "12/31/2023"
            start_v, end_v = (1, 1, 2023), (12, 31, 2023)
            num = rng.randint(1, 400)
            den = num + rng.randint(0, 400)
            score = f"{num / den * 100:.3f}"
            if rng.random() < 0.02:
                start, start_v = rng.choice(BAD_DATES), None
            row = [ccn, code, start, end, score, str(num), str(den)]
            qm_rows.append(row)
            qm_keys[(ccn, code, start_v, end_v)] += 1
            if rng.random() < 0.01:
                qm_rows.append(list(row))
                qm_keys[(ccn, code, start_v, end_v)] += 1
    rng.shuffle(qm_rows)
    write_csv(os.path.join(build_dir, "NH_QualityMsr_Claims_2023.csv"),
              QM_HEADER, qm_rows)

    metrics = _gen_pbj(rng, provs, pbj_dir)
    return {
        "staged": {"staging_penalties": len(pen_rows),
                   "staging_quality_measures": len(qm_rows)},
        "dup_groups": {"penalties": sum(1 for n in pen_keys.values() if n > 1),
                       "quality_measures": sum(1 for n in qm_keys.values() if n > 1)},
        "fact_rows": len(pen_rows),
        "fine_cents": sum(s[1] for s in by_state.values()),
        "by_state": {st: {"penalty_events": s[0], "total_cents": s[1],
                          "fine_count": s[2]} for st, s in by_state.items()},
        "metrics": metrics,
        "build_dir": build_dir, "pbj_dir": pbj_dir,
    }


def _gen_pbj(rng, provs, pbj_dir):
    """Three PBJ files keyed by (PROVNUM, raw CY_Qtr); returns expected rows."""
    fmts = ["{y}Q{q}", "{y} Q{q}", "{y}-Q{q}"]
    census, hours, mix = [], [], []
    keys = []  # (provnum, state, raw quarter)
    for ccn, st, _ in provs:
        for (y, q) in NH_QUARTERS:
            raw = rng.choice(fmts).format(y=y, q=q)
            if rng.random() < 0.005:
                raw = f"Q{q} {y}"                    # unparseable quarter
            keys.append((ccn, st, raw))
            if rng.random() < 0.005:                 # resubmission in a 2nd format
                alt = [f for f in fmts if f.format(y=y, q=q) != raw][0]
                keys.append((ccn, st, alt.format(y=y, q=q)))
    joined = defaultdict(lambda: [[], [], []])
    for ccn, st, raw in keys:
        c_row = [ccn, st, raw, str(rng.randint(20, 240))]
        h_row = [ccn, raw] + [quarter_hours(rng, 50, 900) for _ in range(3)]
        m_row = [ccn, raw] + [quarter_hours(rng, 0, 300) for _ in range(6)]
        u = rng.random()
        if u < 0.02:      # unparseable number in a critical column
            col = rng.randrange(4)
            (c_row if col == 0 else h_row)[3 if col == 0 else 1 + col] = \
                rng.choice(BAD_NUMBERS)
        elif u < 0.05:    # zero sentinel in a critical column
            col = rng.randrange(4)
            (c_row if col == 0 else h_row)[3 if col == 0 else 1 + col] = "0"
        elif u < 0.06:    # zero employed denominator after aggregation
            m_row[5:8] = ["0", "0", "0"]
        elif u < 0.08:    # unparseable number in a non-critical column
            m_row[rng.randrange(2, 8)] = rng.choice(BAD_NUMBERS)
        census.append(c_row)
        hours.append(h_row)
        mix.append(m_row)
        joined[(ccn, raw)][0].append(c_row)
        joined[(ccn, raw)][1].append(h_row)
        joined[(ccn, raw)][2].append(m_row)
        if rng.random() < 0.01:   # duplicate natural key: fans the join out
            h2 = [ccn, raw] + [quarter_hours(rng, 50, 900) for _ in range(3)]
            hours.append(h2)
            joined[(ccn, raw)][1].append(h2)
    for name, rows in zip(PBJ_FILES, (census, hours, mix)):
        rng.shuffle(rows)
        write_csv(os.path.join(pbj_dir, name), PBJ_FILES[name], rows)

    groups = defaultdict(lambda: [0.0, 0.0, 0.0, 0.0])
    for (ccn, raw), (cs, hs, ms) in joined.items():
        qn = normalize_quarter(raw)
        for c in cs:
            for h in hs:
                for m in ms:
                    crit = [parse_num(c[3])] + [parse_num(v) for v in h[2:5]]
                    if any(v == 0 for v in crit):
                        continue              # zero sentinel nulls the set
                    if qn is None or any(v is None for v in crit):
                        continue              # dropped for a missing value
                    mv = [parse_num(v) or 0.0 for v in m[2:8]]
                    g = groups[(c[1], ccn, qn)]
                    g[0] += crit[1] + crit[2] + crit[3]
                    g[1] += crit[0]
                    g[2] += mv[0] + mv[1] + mv[2]
                    g[3] += mv[3] + mv[4] + mv[5]
    rows = []
    for (st, ccn, qn), (hrs, cen, ctr, emp) in groups.items():
        if cen == 0 or emp == 0:
            continue
        rows.append((ccn, st, qn, hrs / cen, ctr / emp, hrs))
    return sorted(rows)


def metrics_checksum(rows):
    """Rounded-ratio checksum over (PROVNUM, STATE, CY_Qtr, ratio, ratio, hours)."""
    return sum(round(r[3] * 1e6) + round(r[4] * 1e6) + round(r[5] * 100)
               for r in rows)


# --------------------------------------------------------- doc_curation

STOPWORDS_ALL = {
    "the", "a", "of", "and", "to", "in", "is", "it", "that", "for",
    "der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf",
    "le", "la", "et", "les", "des", "un", "une", "est", "pour", "dans",
    "el", "los", "las", "es", "para", "por", "con",
    "的", "是", "在", "了", "和", "有", "我", "不", "这", "他"}
EN_STOP = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
PUNCT = set(".,;:!?'\"()[]{}")
GATE = {"min_tokens": 50, "max_punct": 0.2, "min_stop": 0.02,
        "max_dup_line": 0.3, "max_top_bigram": 0.18}


def _vocab(rng, n, onsets):
    vowels = "aeiou"
    words = set()
    while len(words) < n:
        w = "".join(rng.choice(onsets) + rng.choice(vowels)
                    for _ in range(rng.randint(2, 3)))
        if w not in STOPWORDS_ALL:
            words.add(w)
    words = sorted(words)
    rng.shuffle(words)
    return words


def gate_signals(text):
    """The five quality-gate signals as TextAnalysis.qualityGate computes them."""
    toks = text.lower().split()
    n = len(toks)
    punct = sum(1 for ch in text if ch in PUNCT) / len(text) if text else 0.0
    stop = sum(1 for t in toks if t in STOPWORDS_ALL) / n if n else 0.0
    lines = [ln.strip(" ") for ln in text.split("\n")]
    lines = [ln for ln in lines if ln != ""]
    dup = (len(lines) - len(set(lines))) / len(lines) if lines else 0.0
    bis = Counter(zip(toks, toks[1:]))
    top = max(bis.values()) / (n - 1) if n > 1 else 0.0
    return n, punct, stop, dup, top


_GATE_MEMO = {}


def gate_keep(text):
    """(keep verdict, whether every signal sits far from its threshold, tokens)."""
    hit = _GATE_MEMO.get(text)
    if hit is None:
        hit = _GATE_MEMO[text] = _gate_keep(text)
    return hit


def _gate_keep(text):
    n, punct, stop, dup, top = gate_signals(text)
    g = GATE
    ok = [n >= g["min_tokens"], punct <= g["max_punct"], stop >= g["min_stop"],
          dup <= g["max_dup_line"], top <= g["max_top_bigram"]]
    margins = [abs(n - g["min_tokens"]) >= 10, abs(punct - g["max_punct"]) >= 0.05,
               abs(stop - g["min_stop"]) >= 0.015,
               abs(dup - g["max_dup_line"]) >= 0.1,
               abs(top - g["max_top_bigram"]) >= 0.05]
    return all(ok), all(margins), n


def shingles(text, k=3):
    toks = text.lower().split()
    if not toks:
        return set()
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


class _DocMaker:
    def __init__(self, rng, vocab):
        self.rng, self.vocab = rng, vocab
        self.cw = []
        acc = 0.0
        for w in zipf_weights(len(vocab)):
            acc += w
            self.cw.append(acc)

    def words(self, k):
        return self.rng.choices(self.vocab, cum_weights=self.cw, k=k)

    def sentence(self):
        """Content words with English stopwords, never two stopwords in a row,
        so every 3-gram holds a content word."""
        rng = self.rng
        out, prev_stop = [], True
        for w in self.words(rng.randint(7, 13)):
            if not prev_stop and rng.random() < 0.35:
                out.append(rng.choice(EN_STOP))
                prev_stop = True
            out.append(w)
            prev_stop = False
        out[-1] += "."
        return out

    def good_lines(self, n_min=70, n_max=150):
        target = self.rng.randint(n_min, n_max)
        lines, n = [], 0
        while n < target:
            s = self.sentence()
            if lines and self.rng.random() < 0.5:
                lines[-1].extend(s)
            else:
                lines.append(s)
            n += len(s)
        return lines


def _text(lines):
    return "\n".join(" ".join(ln) for ln in lines)


def gen_doc_curation(seed, root):
    """Documents parquet with planted exact dups, near-dup chains, gate
    failures and eval-set contamination; returns survivors per stage."""
    rng = random.Random(seed * 104729 + 3)
    os.makedirs(root)
    train = _DocMaker(rng, _vocab(rng, 6000, "bdfgklmnprstvz"))
    evalm = _DocMaker(rng, _vocab(rng, 3000, "chjqwxy"))

    def good():
        while True:
            lines = train.good_lines()
            t = _text(lines)
            keep, margin, _ = gate_keep(t)
            if keep and margin:
                return lines

    eval_docs = [_text(evalm.good_lines(20, 60)) for _ in range(DOC_EVAL)]
    texts = []           # (text, kind, chain id)
    n_bad = DOC_BASE * 5 // 100
    n_chain_docs = DOC_BASE * 15 // 100
    n_contam = DOC_BASE // 100
    bad_kinds = ["short", "punct", "nostop", "duplines", "bigram"]
    def bad(kind):
        if kind == "short":
            return " ".join(train.sentence() + train.sentence())
        if kind == "punct":
            return _text([[w + "?!" if j % 2 == 0 else "(" + w + ")"
                           for j, w in enumerate(ln)] for ln in good()])
        if kind == "nostop":
            return _text([[w for w in ln if w not in STOPWORDS_ALL]
                          for ln in good()])
        if kind == "duplines":
            line = " ".join(train.sentence())
            return "\n".join([line] * 8 + [" ".join(train.sentence())])
        a, b = train.words(2)
        return " ".join(train.sentence() + [a, b] * 30 + train.sentence())

    for i in range(n_bad):
        while True:
            t = bad(bad_kinds[i % len(bad_kinds)])
            keep, margin, _ = gate_keep(t)
            if not keep and margin:
                break
        texts.append((t, "bad", None))
    chain_id = 0
    made = 0
    while made < n_chain_docs:
        length = rng.randint(2, 8)
        lines = good()
        prev = _text(lines)
        texts.append((prev, "chain", chain_id))
        for _ in range(length - 1):
            while True:   # substitute one content word; keep the gate margins
                li = rng.randrange(len(lines))
                wi = rng.randrange(len(lines[li]))
                w = lines[li][wi]
                if w.rstrip(".") in EN_STOP:
                    continue
                new = [list(ln) for ln in lines]
                new[li][wi] = train.words(1)[0] + ("." if w.endswith(".") else "")
                t = _text(new)
                if t != prev and jaccard(prev, t) >= 0.85 and all(gate_keep(t)[:2]):
                    break
            lines, prev = new, t
            texts.append((t, "chain", chain_id))
        made += length
        chain_id += 1
    for _ in range(n_contam):
        while True:   # splice a 6-token run of an eval document into a line
            lines = good()
            ev = eval_docs[rng.randrange(DOC_EVAL)].split()
            s = rng.randrange(len(ev) - 6)
            li = rng.randrange(len(lines))
            p = rng.randrange(len(lines[li]))
            lines[li][p:p] = ev[s:s + 6]
            t = _text(lines)
            if all(gate_keep(t)[:2]):
                break
        texts.append((t, "contam", None))
    while len(texts) < DOC_BASE:
        texts.append((_text(good()), "plain", None))
    # ~10% exact duplicates of plain, bad and contaminated documents
    sources = [i for i, (_, k, _) in enumerate(texts) if k != "chain"]
    for _ in range(DOC_BASE // 10):
        t, k, _ = texts[rng.choice(sources)]
        texts.append((t, k, None))

    ids = rng.sample(range(1, 20 * len(texts)), len(texts))
    docs = sorted(zip(ids, texts))
    pq.write_table(pa.table({"doc_id": pa.array([d[0] for d in docs], pa.int64()),
                             "text": [d[1][0] for d in docs]}),
                   os.path.join(root, "docs.parquet"))
    pq.write_table(pa.table({"doc_id": pa.array(range(len(eval_docs)), pa.int64()),
                             "text": eval_docs}),
                   os.path.join(root, "eval.parquet"))

    # --- truth, stage by stage
    first_by_text = {}
    for did, (t, _, _) in docs:
        first_by_text.setdefault(t, did)
    s1 = set(first_by_text.values())
    info = {did: (t, k, c) for did, (t, k, c) in docs}
    s2, ntok = set(), {}
    for did in s1:
        keep, _, n = gate_keep(info[did][0])
        if keep:
            s2.add(did)
            ntok[did] = n
    chain_min = {}
    for did in s2:
        c = info[did][2]
        if c is not None:
            chain_min[c] = min(chain_min.get(c, did), did)
    s3 = {d for d in s2 if info[d][2] is None or chain_min[info[d][2]] == d}
    s4 = {d for d in s3 if info[d][1] != "contam"}
    total = sum(ntok[d] for d in s4)
    return {
        "docs": os.path.join(root, "docs.parquet"),
        "eval": os.path.join(root, "eval.parquet"),
        "n_docs": len(docs),
        "survivors": {"dedup_exact": s1, "quality_gate": s2,
                      "fuzzy_dedup": s3, "decontaminate": s4},
        "n_tokens": {d: ntok[d] for d in s4},
        "token_total": total,
        "sequences": (total - 1) // DOC_SEQ_LEN + 1,
        "seq_len": DOC_SEQ_LEN,
    }


# ---------------------------------------------------- dashboard queries

# One analyst's cycle of reads after each pass: the intended mix
# (10/30/25/15/10/10%) rounded to ten queries, with one pivot of each kind.
QUERY_MIX = [("options", 1), ("filter_preview", 3), ("grouped_mean", 2),
             ("pivot", 2), ("numeric_means", 1), ("catalog", 1)]
METRIC_COLS = ["nurse_to_patient_ratio", "contract_vs_employed_ratio",
               "total_nurse_hours"]


def gen_dash_queries(seed, truth, n_passes):
    """A closed-loop query sequence: n_passes cycles of the seeded mix, each
    cycle holding every query type in the same proportions."""
    rng = random.Random(seed * 15485863 + 5)
    by_state = defaultdict(set)
    for r in truth["metrics"]:
        by_state[r[1]].add(r[0])
    states = sorted(s for s, p in by_state.items() if len(p) >= 2)
    quarters = sorted({r[2] for r in truth["metrics"]})
    passes = []
    for _ in range(n_passes):
        cycle = []
        for kind, n in QUERY_MIX:
            for j in range(n):
                st = rng.choice(states)
                provs = rng.sample(sorted(by_state[st]), 2) + [
                    rng.choice(truth["metrics"])[0]]
                q = {"kind": kind}
                if kind == "options":
                    q["column"] = rng.choice(["STATE", "CY_Qtr"])
                elif kind in ("filter_preview", "numeric_means"):
                    q.update(state=st, provnums=provs)
                elif kind == "grouped_mean":
                    q.update(group=rng.choice(["STATE", "CY_Qtr"]),
                             metric=rng.choice(METRIC_COLS))
                elif kind == "pivot":
                    q.update(metric=rng.choice(METRIC_COLS),
                             values=sorted(rng.sample(quarters, 4))
                             if j % 2 == 0 else [])
                cycle.append(q)
        rng.shuffle(cycle)
        passes.append(cycle)
    return passes
