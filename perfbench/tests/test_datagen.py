"""The benchmark's inputs are a pure function of the seed."""

import csv
import io
import json

import datagen


def window(seed, w):
    return datagen.warehouse_window(seed, w, 60, 20, 20)


def test_same_seed_gives_identical_payloads():
    a = json.dumps(window(5, 0), sort_keys=True).encode()
    b = json.dumps(window(5, 0), sort_keys=True).encode()
    assert a == b
    assert a != json.dumps(window(6, 0), sort_keys=True).encode()


def test_keys_never_repeat_across_windows():
    seen = {"square": set(), "shopify": set(), "qb": set()}
    key = {"square": "payment_id", "shopify": "id", "qb": "DocNumber"}
    for w in range(3):
        for src, rows in window(5, w).items():
            keys = {r[key[src]] for r in rows}
            assert len(keys) == len(rows)
            assert not keys & seen[src]
            seen[src] |= keys


def test_created_at_spans_several_years():
    years = {p["created_at"][:4] for p in datagen.warehouse_window(1, 0, 500, 0, 0)["square"]}
    assert len(years) >= 4


def test_every_generated_product_maps_to_an_active_profile():
    items_csv, profiles_csv = datagen.ref_csvs()
    items = list(csv.DictReader(io.StringIO(items_csv)))
    active = {p["profile_id"] for p in csv.DictReader(io.StringIO(profiles_csv))
              if p["active"] == "1"}
    assert all(i["profile_id"] in active for i in items)
    w = window(9, 0)
    square = {it["item_detail"]["item_variation_id"]
              for p in w["square"] for it in p["itemizations"]}
    shopify = {str(li["variant_id"]) for o in w["shopify"] for li in o["line_items"]}
    qb = {ln["SalesItemLineDetail"]["ItemRef"]["value"]
          for inv in w["qb"] for ln in inv["Line"] if ln["SalesItemLineDetail"]}
    assert square <= {i["square_id"] for i in items}
    assert shopify <= {i["shopify_id"] for i in items}
    assert qb <= {i["quickbooks_id"] for i in items}


def test_tables_are_deterministic_and_typed(tmp_path):
    a = datagen.make_tables(3, scale=0.05)
    b = datagen.make_tables(3, scale=0.05)
    assert set(a) == set(datagen.TABLES)
    for name in datagen.TABLES:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(datagen.make_tables(4, scale=0.05)["lineitem"])
    assert str(a["orders"].schema.field("o_orderdate").type) == "timestamp[us]"
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"
    docs = a["documents"].to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
