"""Seeded input generators for the benchmark workloads.

Everything is drawn from one ``random.Random(seed)`` so the same seed writes
byte-identical files. kgspark only ever sees the files; the facts planted in
them are returned separately so the checks never read the system's output to
decide what is correct.
"""

from __future__ import annotations

import csv
import io
import itertools
import json
import random
import re
from collections.abc import Iterator
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from pathlib import Path

# Name characters. None of them occurs in an extraction pattern keyword
# (的常见症状包括 / 的常用药物有 / 可并发 / 属于 / 承保年龄为 / 不承保 / 覆盖), in a
# severity qualifier, in a query-intent keyword, or is a digit, so generated
# names can neither split a sentence wrongly nor change how a question parses.
_NAME_CHARS = (
    "甲乙丙丁戊己庚辛壬癸子丑寅卯辰巳午未申酉戌亥金木水火土"
    "山川河湖海云雨雪风雷石玉竹松梅兰菊桃李杏桂柏杨柳"
)
_DISEASE_SUFFIXES = ["病", "炎", "瘤", "综合征", "热"]
_SYMPTOM_SUFFIXES = ["痛", "肿", "晕", "咳", "痒", "麻"]
_DRUG_SUFFIXES = ["片", "胶囊", "颗粒", "注射液", "口服液"]
DEPTS = ["内科", "外科", "神经内科", "内分泌科", "皮肤科", "眼科", "儿科", "骨科"]
AGE_RANGES = ["0-65周岁", "18-80周岁", "出生满30天-70周岁", "28天-60周岁", "50-85周岁"]
# surface-form variants that components.normalized_forms folds back to the base
_VARIANTS = ["-重度", "-早期", "—急性", "（急性）", "(慢性)", "（急性）-重度"]
_SEVERITY = re.compile(r"[-—]\s*(重度|中度|轻度|早期|晚期|急性|慢性)$")
_PAREN = re.compile(r"[（(][^（()）]*[)）]$")

_EPOCH = datetime(2024, 1, 1)
Triple = tuple[str, str, str, str, str]  # (subj, subj_type, pred, obj, obj_type)


def _names(rng: random.Random, n: int, suffixes: list[str], taken: set[str]) -> list[str]:
    """``n`` new names; no name is a substring of another already taken, so
    mention matching on a question finds exactly the entity asked about."""
    out: list[str] = []
    while len(out) < n:
        name = "".join(rng.choice(_NAME_CHARS) for _ in range(rng.randint(2, 3)))
        name += rng.choice(suffixes)
        if any(name in t or t in name for t in taken):
            continue
        taken.add(name)
        out.append(name)
    return out


def _zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (k + 1) ** s for k in range(n)]


def canonical_key(name: str) -> str:
    """Independent re-statement of the folding rule: drop one trailing
    severity qualifier, then one trailing parenthetical."""
    return _PAREN.sub("", _SEVERITY.sub("", name.strip()))


def canonicalize(triples: set[Triple]) -> set[Triple]:
    """Planted triples in canonical form: within each Disease fold group the
    shortest surface form present (then the lexicographically first) wins."""
    forms: dict[str, set[str]] = {}
    for s, st, _p, o, ot in triples:
        for name, label in ((s, st), (o, ot)):
            if label == "Disease":
                forms.setdefault(canonical_key(name), set()).add(name)
    winner = {k: min(v, key=lambda x: (len(x), x)) for k, v in forms.items()}

    def canon(name: str, label: str) -> str:
        return winner[canonical_key(name)] if label == "Disease" else name

    return {(canon(s, st), st, p, canon(o, ot), ot) for s, st, p, o, ot in triples}


# ---------------------------------------------------------------------------
# web corpus (WARC pages)
# ---------------------------------------------------------------------------
@dataclass
class WebVocab:
    diseases: list[str]
    symptoms: list[str]
    drugs: list[str]
    insurances: list[str]
    disease_w: list[float]
    symptom_w: list[float]


def web_vocab(rng: random.Random, n_diseases: int) -> WebVocab:
    taken: set[str] = set()
    diseases = _names(rng, n_diseases, _DISEASE_SUFFIXES, taken)
    symptoms = _names(rng, max(20, n_diseases // 2), _SYMPTOM_SUFFIXES, taken)
    drugs = _names(rng, max(20, n_diseases // 2), _DRUG_SUFFIXES, taken)
    insurances = _names(rng, 12, ["险"], taken)
    # Zipf(1.1) over diseases and symptoms: a few hubs carry most triples
    return WebVocab(
        diseases, symptoms, drugs, insurances,
        _zipf_weights(len(diseases), 1.1), _zipf_weights(len(symptoms), 1.1),
    )


@dataclass
class WebPage:
    url: str
    ts: datetime
    html: bytes
    triples: list[Triple]  # as written (surface forms), i.e. what extraction should emit


def _surface(rng: random.Random, name: str, variant_rate: float) -> str:
    return name + rng.choice(_VARIANTS) if rng.random() < variant_rate else name


def web_page(rng: random.Random, v: WebVocab, i: int, variant_rate: float, tag: str) -> WebPage:
    d = rng.choices(v.diseases, v.disease_w)[0]
    # the subject keeps its base form on most pages, so each fold group has
    # its shortest (canonical) form present in the corpus
    subj = _surface(rng, d, variant_rate / 2)
    s1, s2 = rng.choices(v.symptoms, v.symptom_w, k=2)
    g1, g2 = rng.sample(v.drugs, 2)
    comp = _surface(rng, rng.choices(v.diseases, v.disease_w)[0], variant_rate)
    dept = DEPTS[v.diseases.index(d) % len(DEPTS)]
    sents = [
        (f"{subj}的常见症状包括{s1}、{s2}。",
         [(subj, "Disease", "HAS_SYMPTOM", s, "Symptom") for s in {s1, s2}]),
        (f"{subj}可并发{comp}。", [(subj, "Disease", "HAS_COMPLICATION", comp, "Disease")]),
        (f"{subj}的常用药物有{g1}、{g2}。",
         [(subj, "Disease", "TREATED_BY", g, "Drug") for g in (g1, g2)]),
        (f"{subj}属于{dept}。", [(subj, "Disease", "BELONGS_TO_DEPT", dept, "Department")]),
    ]
    ins = rng.choice(v.insurances)
    if rng.random() < 0.3:
        age = rng.choice(AGE_RANGES)
        sents.append((f"{ins}承保年龄为{age}。",
                      [(ins, "Insurance", "ALLOWS_AGE", age, "AgeRange")]))
    if rng.random() < 0.3:
        refused = _surface(rng, rng.choice(v.diseases), variant_rate)
        sents.append((f"{ins}不承保{refused}。",
                      [(ins, "Insurance", "REFUSES_DISEASE", refused, "Disease")]))
    rng.shuffle(sents)
    body = "".join(f"<p>{s}</p>" for s, _ in sents)
    html = (
        f"<html><head><title>{tag}{i}</title><script>var n={i};</script></head>"
        f"<body><nav>首页 导航 登录</nav>{body}<footer>© example site</footer></body></html>"
    ).encode("utf-8")
    triples = sorted({t for _, ts in sents for t in ts})
    return WebPage(
        url=f"https://site{rng.randrange(97)}.example/{tag}/{i}",
        ts=_EPOCH + timedelta(seconds=37 * i),
        html=html,
        triples=triples,
    )


@dataclass
class WebCorpus:
    pages: list[WebPage]
    deltas: list[list[WebPage]]
    vocab: WebVocab
    stats: dict = field(default_factory=dict)


def web_corpus(seed: int, n_pages: int, n_deltas: int, delta_pages: int,
               n_diseases: int, variant_rate: float) -> WebCorpus:
    rng = random.Random(seed)
    v = web_vocab(rng, n_diseases)
    pages = [web_page(rng, v, i, variant_rate, "page") for i in range(n_pages)]
    # deltas use the same generator and variant rate as the base corpus
    deltas = [
        [web_page(rng, v, i, variant_rate, f"delta{k}") for i in range(delta_pages)]
        for k in range(n_deltas)
    ]
    return WebCorpus(pages, deltas, v, corpus_stats(pages))


def corpus_stats(pages: list[WebPage]) -> dict:
    """Size and skew of a page set: distinct entities, the top hub's share of
    triples, and the share of Disease mentions written as a variant."""
    triples = [t for p in pages for t in p.triples]
    ents = {(s, st) for s, st, *_ in triples} | {(o, ot) for *_, o, ot in triples}
    hub: dict[tuple[str, str], int] = {}
    for s, st, _p, o, ot in triples:
        for key in ((s, st), (o, ot)):
            hub[key] = hub.get(key, 0) + 1
    disease_mentions = [n for s, st, _p, o, ot in triples
                        for n, lab in ((s, st), (o, ot)) if lab == "Disease"]
    return {
        "pages": len(pages),
        "triples": len(triples),
        "distinct_entities": len(ents),
        "top_hub_share": max(hub.values()) / len(triples),
        "variant_share": sum(canonical_key(n) != n for n in disease_mentions)
        / len(disease_mentions),
    }


def write_warc_files(pages: list[WebPage], out_dir: Path, n_files: int) -> None:
    from kgspark.sources.warc import write_synthetic_warc

    out_dir.mkdir(parents=True, exist_ok=True)
    for f in range(n_files):
        docs = [(p.url, p.ts, p.html) for p in pages[f::n_files]]
        write_synthetic_warc(str(out_dir / f"part-{f:03d}.warc.gz"), docs)


# ---------------------------------------------------------------------------
# structured sources (reference layout) for the GraphRAG workload
# ---------------------------------------------------------------------------
CITIES = ["北京", "上海", "广州", "成都", "杭州", "深圳"]
SERIES = ["蓝医保", "好医保", "金医保", "平安", "众安", "长相安"]
GENERIC = ["重疾", "医疗", "护理", "防癌"]
COVERED = ["高血压", "糖尿病", "恶性肿瘤"]
_DESCS = ["覆盖高血压等慢病人群", "糖尿病患者可投保", "癌症既往症可保", "含恶性肿瘤医疗保障",
          "百万医疗保障", "住院费用报销"]


@dataclass
class StructuredVocab:
    diseases: list[str]
    symptoms: list[str]
    drugs: list[str]
    stubs: list[str]  # complication names with no disease record
    insurances: list[str]
    homes: list[tuple[str, str]]  # (name, city)


def structured_vocab(rng: random.Random, n_diseases: int) -> StructuredVocab:
    taken = set(COVERED)
    diseases = COVERED + _names(rng, n_diseases - len(COVERED), _DISEASE_SUFFIXES, taken)
    stubs = _names(rng, max(4, n_diseases // 5), ["症候"], taken)
    symptoms = _names(rng, max(20, n_diseases // 2), _SYMPTOM_SUFFIXES, taken)
    drugs = _names(rng, max(20, n_diseases // 2), _DRUG_SUFFIXES, taken)
    insurances = []
    # 30 products, 15 with a generic keyword: the generic search returns at
    # most 20, so it returns all of them and its answer is fully checkable
    for i, base in enumerate(_names(rng, 30, ["险"], taken)):
        series = SERIES[i % len(SERIES)] if i % 3 == 0 else ""
        kw = GENERIC[i % len(GENERIC)] if i % 2 == 0 else ""
        insurances.append(f"{series}{base[:-1]}{kw}险")
    homes = [(f"{CITIES[i % len(CITIES)]}{n[:-1]}养老院", CITIES[i % len(CITIES)])
             for i, n in enumerate(_names(rng, max(12, n_diseases // 4), ["院"], taken))]
    return StructuredVocab(diseases, symptoms, drugs, stubs, insurances, homes)


def _disease_record(rng: random.Random, v: StructuredVocab, name: str, k: int) -> dict:
    sym_w = _zipf_weights(len(v.symptoms), 1.1)
    return {
        "id": str(k),
        "icd_code": f"X{k:04d}",
        "name": name,
        "intro": None if rng.random() < 0.1 else f"{name}的介绍{k}",
        "get_prob": f"0.{k % 10}%",
        "cure_dept": "" if rng.random() < 0.1 else rng.choice(DEPTS),
        "easy_get": rng.choice(["多见于老年人", "多见于中年人"]),
        "get_way": "无传染性",
        "symptom": sorted(set(rng.choices(v.symptoms, sym_w, k=rng.randint(1, 8)))),
        "drug": rng.sample(v.drugs, rng.randint(0, 4)),
        "neopathy": rng.sample(v.diseases + v.stubs, rng.randint(0, 3)),
        "cause": f"病因{k}",
        "prevent": f"预防{k}",
        "nursing": f"护理{k}",
        "treat_detail": None if rng.random() < 0.1 else f"治疗{k}",
    }


def _insurance_record(rng: random.Random, name: str, k: int) -> dict:
    age = rng.choice(AGE_RANGES + ["适合老年人投保", "等待期160天"])
    return {
        "产品名称": name,
        "险种分类": rng.choice(["医疗险", "重疾险", "护理险"]),
        "承保公司": f"示例保险公司{k % 5}",
        "承保年龄": age,
        "保障期限": rng.choice(["1年", "终身"]),
        "产品描述": rng.choice(_DESCS),
        "价格": f"{10 + k % 90}元/月起",
    }


def _home_row(rng: random.Random, name: str, city: str, k: int) -> list[str]:
    price = "价格面议" if rng.random() < 0.1 else str(rng.randrange(2000, 9000, 100))
    return [city, name, rng.choice(["民营", "公建民营"]), f"{rng.randrange(50, 500)}张",
            price, "医养结合,康复护理", f"{city}市幸福路{k}号"]


@dataclass
class StructuredBatch:
    diseases: list[dict]
    medicines: dict
    homes: list[list[str]]
    insurances: list[dict]


def structured_batch(rng: random.Random, v: StructuredVocab, n: int, base: int) -> StructuredBatch:
    """One batch of source records. Names are drawn with repetition, so a
    batch re-writes some entities (last write wins) and a later batch updates
    entities an earlier one created."""
    diseases = [_disease_record(rng, v, rng.choice(v.diseases), base + k) for k in range(n)]
    sheets: dict = {}
    for s, sheet in enumerate(["西药部分", "中成药部分"]):
        sheets[sheet] = {"categories": {}, "medicines": [
            {
                "id": f"{sheet}_{base + j}",
                "name": rng.choice(v.drugs),
                "sheet": sheet,
                "reimbursement_category": rng.choice(["甲类", "乙类"]),
                "category_code": f"X{'ABCD'[j % 4]}",
                "category_name": f"类别{j % 4}",
                "subcategory_code": f"X{'ABCD'[j % 4]}0{j % 3}",
                "subcategory_name": f"子类{j % 3}",
                "all_category_codes": [f"X{'ABCD'[j % 4]}"],
                "dosage": rng.choice(["片剂", "胶囊", None]),
            }
            for j in range(n // 2 + s)
        ]}
    homes = [_home_row(rng, *rng.choice(v.homes), base + k) for k in range(max(6, n // 4))]
    homes.append([CITIES[0], "  ", "民营", "10张", "1000", "无", "无名路"])  # blank name
    insurances = [_insurance_record(rng, rng.choice(v.insurances), base + k)
                  for k in range(max(8, n // 3))]
    return StructuredBatch(diseases, sheets, homes, insurances)


def disease_update(rng: random.Random, v: StructuredVocab, n: int, base: int) -> StructuredBatch:
    """A disease-catalog update: ``n`` records with distinct names, some
    revising diseases already in the catalog, some new."""
    names = rng.sample(v.diseases, n)
    return StructuredBatch([_disease_record(rng, v, d, base + k) for k, d in enumerate(names)],
                           {}, [], [])


def write_structured(batches: list[StructuredBatch], root: Path) -> Path:
    """Reference layout (Diseases/Drugs/NursingHomes/Insurance) holding the
    given batches concatenated in order."""
    (root / "Diseases").mkdir(parents=True, exist_ok=True)
    (root / "Drugs").mkdir(parents=True, exist_ok=True)
    (root / "NursingHomes").mkdir(parents=True, exist_ok=True)
    (root / "Insurance").mkdir(parents=True, exist_ok=True)
    diseases = [r for b in batches for r in b.diseases]
    (root / "Diseases" / "diseases.json").write_text(
        json.dumps(diseases, ensure_ascii=False, indent=1), "utf-8")
    sheets: dict = {}
    for b in batches:
        for sheet, content in b.medicines.items():
            sheets.setdefault(sheet, {"categories": {}, "medicines": []})
            sheets[sheet]["medicines"] += content["medicines"]
    (root / "Drugs" / "medicine.json").write_text(
        json.dumps(sheets, ensure_ascii=False, indent=1), "utf-8")
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(["城市", "名称", "性质", "床位", "价格(元/月)", "特色服务", "地址"])
    for b in batches:
        w.writerows(b.homes)
    (root / "NursingHomes" / "nursing_homes.csv").write_text("﻿" + buf.getvalue(), "utf-8")
    insurances = [r for b in batches for r in b.insurances]
    (root / "Insurance" / "insurance_info.json").write_text(
        json.dumps(insurances, ensure_ascii=False, indent=1), "utf-8")
    return root


# one cycle of the serving question mix: every branch of retrieve_context
# once, so no branch outweighs another
QUESTION_MIX = ["disease", "age", "series", "generic", "nursing", "empty"]


def questions(rng: random.Random, diseases: list[str],
              mix: list[str] = QUESTION_MIX) -> Iterator[tuple[str, str, object]]:
    """An endless stream of (branch, question, argument) triples cycling
    through ``mix``; disease questions name one of ``diseases``. The argument
    is what the question asks about."""
    for k in itertools.count():
        kind = mix[k % len(mix)]
        if kind == "disease":
            arg = rng.choice(diseases)
            q = f"{arg}有什么症状？"
        elif kind == "age":
            arg = rng.randint(60, 90)
            q = f"我今年{arg}岁，有什么推荐？"
        elif kind == "series":
            arg = rng.choice(SERIES)
            q = f"{arg}有哪些保险产品？"
        elif kind == "generic":
            arg = rng.choice(GENERIC)
            q = f"有什么{arg}保险推荐？"
        elif kind == "nursing":
            arg = (rng.choice(CITIES), rng.randrange(3000, 9000, 500))
            q = f"{arg[0]}有什么养老院？{arg[1]}元以下"
        else:
            arg = None
            q = "今天天气怎么样？"
        yield kind, q, arg
