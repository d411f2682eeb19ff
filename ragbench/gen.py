"""Seeded input generator. The engine only ever sees the files written here.

Everything derives from one ``random.Random(seed)`` per artifact, and JSON is
written with sorted keys and fixed separators, so the same seed gives
byte-identical files. Shapes follow the retail collections of
``sources.ingest.COLLECTION_SCHEMAS`` (vectors are left out: the engine
computes them) and the ``{doc_id, text}`` documents the streaming corpus
chain reads.
"""

from __future__ import annotations

import json
import os
import random

CATEGORIES = (
    "Bikes, Mountain Bikes", "Bikes, Road Bikes", "Bikes, Touring Bikes",
    "Components, Brakes", "Components, Chains", "Components, Wheels",
    "Clothing, Jerseys", "Clothing, Socks", "Accessories, Helmets",
    "Accessories, Lights", "Accessories, Locks", "Accessories, Bottles and Cages",
)
ADJECTIVES = (
    "lightweight", "rugged", "classic", "carbon", "aluminum", "compact", "sturdy",
    "waterproof", "reflective", "breathable", "adjustable", "durable", "sleek",
    "comfortable", "responsive", "quiet", "bright", "padded", "folding", "vintage",
)
NOUNS = (
    "frame", "wheel", "tire", "chain", "brake", "saddle", "pedal", "helmet",
    "jersey", "sock", "light", "lock", "bottle", "cage", "handlebar", "fork",
    "derailleur", "crankset", "glove", "pump", "rack", "fender", "bell", "mirror",
)
VERBS = (
    "supports", "protects", "improves", "carries", "holds", "keeps", "fits",
    "matches", "replaces", "extends", "balances", "guides", "stops", "lights",
)
CITIES = ("Seattle", "Portland", "Denver", "Austin", "Boston", "Toronto", "Berlin", "Paris")
FIRST = ("Ana", "Ben", "Chen", "Dara", "Eli", "Fay", "Gus", "Hana", "Ivo", "Jun")
LAST = ("Adams", "Baker", "Cruz", "Diaz", "Evans", "Fox", "Gray", "Hill", "Ito", "Jones")
QUESTION_STEMS = (
    "What {adj} {noun} do you have for {city} riders",
    "Which {noun} works best with a {adj} {noun2}",
    "Do you sell a {adj} {noun} under {price} dollars",
    "How does the {adj} {noun} compare to the {noun2}",
    "Can I get a {noun} that {verb} my {noun2}",
)
STOP = ("the", "and", "to", "of", "with", "that", "for", "a", "in", "is")


def _dump(path: str, obj) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write(json.dumps(obj, sort_keys=True, separators=(",", ":"), ensure_ascii=True))


def _sentence(rng: random.Random) -> str:
    words = [
        rng.choice(STOP[:1]).capitalize(), rng.choice(ADJECTIVES), rng.choice(NOUNS),
        rng.choice(VERBS), rng.choice(STOP), rng.choice(ADJECTIVES), rng.choice(NOUNS),
        rng.choice(STOP[2:6]), rng.choice(STOP[:1]), rng.choice(NOUNS),
    ]
    return " ".join(words) + "."


def _text(rng: random.Random, n_words: int) -> str:
    out: list[str] = []
    while sum(len(s.split()) for s in out) < n_words:
        out.append(_sentence(rng))
    return " ".join(out)


def product(rng: random.Random, pid: str) -> dict:
    cat = rng.randrange(len(CATEGORIES))
    name = f"{rng.choice(ADJECTIVES).title()} {rng.choice(NOUNS).title()} {rng.randrange(100, 999)}"
    return {
        "id": pid,
        "categoryId": f"cat-{cat:02d}",
        "categoryName": CATEGORIES[cat],
        "sku": f"SKU-{rng.randrange(10**6):06d}",
        "name": name,
        "description": _text(rng, rng.randint(18, 40)),
        "price": round(rng.uniform(4.99, 3499.0), 2),
        "tags": [
            {"id": f"tag-{t:02d}", "name": NOUNS[t]}
            for t in sorted(rng.sample(range(len(NOUNS)), rng.randint(1, 3)))
        ],
    }


def customer(rng: random.Random, cid: str) -> dict:
    first, last = rng.choice(FIRST), rng.choice(LAST)
    return {
        "id": cid,
        "type": "customer",
        "customerId": cid,
        "title": rng.choice(("", "Mr.", "Ms.", "Dr.")),
        "firstName": first,
        "lastName": last,
        "emailAddress": f"{first.lower()}.{last.lower()}@example.com",
        "phoneNumber": f"555-{rng.randrange(10**4):04d}",
        "creationDate": f"2023-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T00:00:00",
        "addresses": [
            {
                "addressLine1": f"{rng.randint(1, 999)} Main St",
                "addressLine2": "",
                "city": rng.choice(CITIES),
                "state": "WA",
                "country": "US",
                "zipCode": f"{rng.randrange(10**5):05d}",
                "location": {"type": "Point", "coordinates": [round(rng.uniform(-180, 180), 4), round(rng.uniform(-90, 90), 4)]},
            }
        ],
        "password": {"hash": f"{rng.getrandbits(64):016x}", "salt": f"{rng.getrandbits(32):08x}"},
        "salesOrderCount": rng.randint(0, 9),
    }


def sales_order(rng: random.Random, oid: str, customers: list[dict], products: list[dict]) -> dict:
    lines = rng.sample(products, min(len(products), rng.randint(1, 3)))
    return {
        "id": oid,
        "type": "salesOrder",
        "customerId": rng.choice(customers)["id"],
        "orderDate": f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T00:00:00",
        "shipDate": "",
        "details": [
            {"sku": p["sku"], "name": p["name"], "price": p["price"], "quantity": rng.randint(1, 4)}
            for p in lines
        ],
    }


def question(rng: random.Random) -> str:
    stem = rng.choice(QUESTION_STEMS)
    return stem.format(
        adj=rng.choice(ADJECTIVES), noun=rng.choice(NOUNS), noun2=rng.choice(NOUNS),
        verb=rng.choice(VERBS), city=rng.choice(CITIES), price=rng.choice((50, 100, 500, 1000)),
    ) + "?"


def question_pool(rng: random.Random, n: int, repeat_share: float) -> list[str]:
    """`n` questions of which about `repeat_share` repeat an earlier one."""
    pool: list[str] = []
    for _ in range(n):
        pool.append(rng.choice(pool) if pool and rng.random() < repeat_share else question(rng))
    return pool


def write_collections(out: str, seed: int, sizes: dict) -> dict:
    """products / customers / salesOrders JSON arrays (plus an upsert pool of
    new products for the write path); returns the generated records."""
    rng = random.Random(seed * 1000 + 1)
    os.makedirs(out, exist_ok=True)
    products = [product(rng, f"p{i:05d}") for i in range(sizes["products"])]
    _dump(os.path.join(out, "products.json"), products)
    data = {"products": products}
    if sizes.get("customers"):
        customers = [customer(rng, f"c{i:05d}") for i in range(sizes["customers"])]
        orders = [sales_order(rng, f"o{i:05d}", customers, products) for i in range(sizes["sales_orders"])]
        _dump(os.path.join(out, "customers.json"), customers)
        _dump(os.path.join(out, "salesOrders.json"), orders)
        data.update(customers=customers, salesOrders=orders)
    if sizes.get("upsert_pool"):
        upserts = [product(rng, f"u{i:05d}") for i in range(sizes["upsert_pool"])]
        _dump(os.path.join(out, "upserts.json"), upserts)
        data["upserts"] = upserts
    return data


def write_questions(out: str, seed: int, sizes: dict) -> list[str]:
    rng = random.Random(seed * 1000 + 2)
    os.makedirs(out, exist_ok=True)
    pool = question_pool(rng, sizes["questions"], sizes["question_repeat_share"])
    _dump(os.path.join(out, "questions.json"), pool)
    return pool


def write_stream(out: str, seed: int, sizes: dict) -> dict:
    """Streaming document files (one JSON object per line) with stated shares
    of exact duplicates, near duplicates and contaminated documents, plus the
    benchmark texts whose n-grams the contaminated documents quote."""
    rng = random.Random(seed * 1000 + 3)
    docs_dir = os.path.join(out, "docs")
    os.makedirs(docs_dir, exist_ok=True)
    bench = [_text(rng, sizes["bench_words"]) for _ in range(sizes["bench_texts"])]
    _dump(os.path.join(out, "bench_texts.json"), bench)
    lo, hi = sizes["doc_words"]
    texts: list[str] = []
    kinds = {"exact_dup": 0, "near_dup": 0, "contaminated": 0, "fresh": 0}
    files = []
    doc_id = 0
    for fi in range(sizes["files"]):
        lines = []
        for _ in range(sizes["docs_per_file"]):
            r = rng.random()
            if texts and r < sizes["exact_dup_share"]:
                kind, text = "exact_dup", rng.choice(texts)
            elif texts and r < sizes["exact_dup_share"] + sizes["near_dup_share"]:
                kind, text = "near_dup", rng.choice(texts) + " " + _sentence(rng)
            elif r < sizes["exact_dup_share"] + sizes["near_dup_share"] + sizes["contaminated_share"]:
                words = rng.choice(bench).split()
                start = rng.randrange(0, len(words) - 12)
                quote = " ".join(words[start:start + 12])
                kind, text = "contaminated", _text(rng, rng.randint(lo, hi) // 2) + " " + quote + " " + _text(rng, rng.randint(lo, hi) // 2)
            else:
                kind, text = "fresh", _text(rng, rng.randint(lo, hi))
            kinds[kind] += 1
            texts.append(text)
            lines.append(json.dumps({"doc_id": doc_id, "text": text}, sort_keys=True, separators=(",", ":")))
            doc_id += 1
        path = os.path.join(docs_dir, f"part-{fi:04d}.json")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        # the file source orders a backlog by modification time: pin it
        os.utime(path, (1_600_000_000 + fi, 1_600_000_000 + fi))
        files.append(path)
    return {"files": files, "bench": bench, "kinds": kinds, "docs": doc_id}
