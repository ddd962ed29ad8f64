"""Seeded synthetic French real-estate listings in the challenge's CSV layout.

Writes X_train.csv / y_train.csv / X_test.csv / y_test.csv: the X files
carry `id_annonce` plus the 26 other fields of the program's 27-field
inference schema (`graft.etl.Schemas.inference`), the y files carry
`id_annonce,price`. Prices follow a learnable log-price model (size,
distance to Paris, property type, energy class) with Gaussian noise, and
every nullable column has its own null rate, so the strict null policy,
the derived features and the capping all see real work.

Every categorical label used in the test split also occurs in the train
split (the first train rows cycle through each vocabulary), so the strict
feature pipeline, which drops rows with unseen labels, keeps every test row.
"""

import csv
import math
import os

import numpy as np

N_TRAIN = 37368
N_TEST = 9339

PROPERTY_TYPES = [
    ("appartement", 0.46, 0.0), ("maison", 0.36, 0.10), ("villa", 0.04, 0.35),
    ("propriété", 0.02, 0.55), ("terrain", 0.03, -0.90), ("parking", 0.02, -1.60),
    ("duplex", 0.02, 0.15), ("loft", 0.01, 0.25), ("chambre", 0.01, -1.10),
    ("divers", 0.01, -0.40), ("atelier", 0.01, -0.20), ("chalet", 0.005, 0.20),
    ("château", 0.002, 1.10), ("hôtel particulier", 0.002, 1.30),
    ("moulin", 0.002, 0.40), ("manoir", 0.002, 0.70), ("péniche", 0.002, -0.10),
    ("gîte", 0.002, 0.00), ("viager", 0.002, -0.60), ("hôtel", 0.002, 0.90),
]
ENERGY = [("A", 0.03, 0.12), ("B", 0.06, 0.08), ("C", 0.16, 0.05), ("D", 0.30, 0.0),
          ("E", 0.23, -0.04), ("F", 0.13, -0.09), ("G", 0.09, -0.15)]
EXPOSITION = ["Nord", "Sud", "Est", "Ouest", "Sud-Est", "Sud-Ouest", "Nord-Est",
              "Nord-Ouest", "Est-Ouest", "Nord-Sud"]
# (city, postal code, latitude, longitude, weight)
CITIES = [
    ("paris", 75015, 48.841, 2.300, 0.09), ("boulogne-billancourt", 92100, 48.835, 2.241, 0.02),
    ("versailles", 78000, 48.805, 2.135, 0.02), ("lyon", 69003, 45.760, 4.850, 0.07),
    ("marseille", 13008, 43.296, 5.370, 0.07), ("toulouse", 31000, 43.604, 1.444, 0.06),
    ("nice", 6000, 43.710, 7.262, 0.05), ("nantes", 44000, 47.218, -1.554, 0.05),
    ("bordeaux", 33000, 44.837, -0.579, 0.06), ("lille", 59000, 50.629, 3.057, 0.05),
    ("rennes", 35000, 48.117, -1.678, 0.04), ("strasbourg", 67000, 48.573, 7.752, 0.04),
    ("montpellier", 34000, 43.611, 3.877, 0.05), ("grenoble", 38000, 45.188, 5.724, 0.03),
    ("dijon", 21000, 47.322, 5.041, 0.03), ("angers", 49000, 47.478, -0.563, 0.03),
    ("brest", 29200, 48.390, -4.486, 0.03), ("limoges", 87000, 45.833, 1.262, 0.03),
    ("clermont-ferrand", 63000, 45.778, 3.087, 0.03), ("annecy", 74000, 45.899, 6.129, 0.03),
    ("perpignan", 66000, 42.698, 2.895, 0.03), ("tours", 37000, 47.394, 0.684, 0.03),
    ("reims", 51100, 49.258, 4.031, 0.03),
]
PARIS = (48.8566, 2.3522)

X_COLUMNS = [
    "id_annonce", "property_type", "approximate_latitude", "approximate_longitude",
    "city", "postal_code", "size", "floor", "land_size", "energy_performance_value",
    "energy_performance_category", "ghg_value", "ghg_category", "exposition",
    "nb_rooms", "nb_bedrooms", "nb_bathrooms", "nb_parking_places", "nb_boxes",
    "nb_photos", "has_a_balcony", "nb_terraces", "has_a_cellar", "has_a_garage",
    "has_air_conditioning", "last_floor", "upper_floors",
]
NULL_RATES = {
    "floor": 0.75, "land_size": 0.62, "energy_performance_value": 0.45,
    "energy_performance_category": 0.45, "ghg_value": 0.48, "ghg_category": 0.48,
    "exposition": 0.76, "nb_bedrooms": 0.08, "nb_bathrooms": 0.36, "size": 0.02,
    "nb_rooms": 0.03, "postal_code": 0.0,
}


def _pick(rng, n, table, col):
    w = np.array([row[col] for row in table], dtype=float)
    return rng.choice(len(table), size=n, p=w / w.sum())


def _haversine_km(lat, lon):
    p1, p2 = np.radians(lat), math.radians(PARIS[0])
    dphi = p2 - p1
    dl = math.radians(PARIS[1]) - np.radians(lon)
    a = np.sin(dphi / 2) ** 2 + np.cos(p1) * math.cos(p2) * np.sin(dl / 2) ** 2
    return 6371.0 * 2 * np.arcsin(np.sqrt(a))


def generate(seed, n):
    """Column dict of `n` listings plus their prices, a pure function of seed."""
    rng = np.random.default_rng(seed)
    ptype = _pick(rng, n, PROPERTY_TYPES, 1)
    energy = _pick(rng, n, ENERGY, 1)
    ghg = np.clip(energy + rng.integers(-1, 2, n), 0, len(ENERGY) - 1)
    expo = rng.integers(0, len(EXPOSITION), n)
    city = _pick(rng, n, CITIES, 4)
    # cover every vocabulary in the first rows so train always holds each label
    for arr, k in ((ptype, len(PROPERTY_TYPES)), (energy, len(ENERGY)),
                   (ghg, len(ENERGY)), (expo, len(EXPOSITION))):
        arr[:min(k, n)] = np.arange(min(k, n))
    lat = np.array([CITIES[c][2] for c in city]) + rng.normal(0, 0.08, n)
    lon = np.array([CITIES[c][3] for c in city]) + rng.normal(0, 0.10, n)
    is_house = np.isin(ptype, [1, 2, 3])
    size = np.round(np.exp(rng.normal(np.where(is_house, 4.7, 4.0), 0.45)), 1)
    rooms = np.clip(np.round(size / 22 + rng.normal(0, 0.8, n)), 1, 30).astype(int)
    bedrooms = np.clip(rooms - 1 - rng.integers(0, 2, n), 0, None)
    land = np.round(np.where(is_house, np.exp(rng.normal(6.5, 0.9, n)), rng.exponential(40, n)), 1)
    epv = np.round(np.array([60 + 45 * e for e in energy]) + rng.normal(0, 12, n), 1)
    ghgv = np.round(np.array([4 + 11 * g for g in ghg]) + rng.normal(0, 3, n), 1)
    dist = _haversine_km(lat, lon)
    log_price = (8.95 + 0.92 * np.log(size) - 0.33 * np.log1p(dist / 25.0)
                 + np.array([PROPERTY_TYPES[t][2] for t in ptype])
                 + np.array([ENERGY[e][2] for e in energy])
                 + 0.02 * np.minimum(rooms, 10) + rng.normal(0, 0.28, n))
    cols = {
        "property_type": [PROPERTY_TYPES[t][0] for t in ptype],
        "approximate_latitude": np.round(lat, 6),
        "approximate_longitude": np.round(lon, 6),
        "city": [CITIES[c][0] for c in city],
        "postal_code": np.array([CITIES[c][1] for c in city]),
        "size": size,
        "floor": rng.integers(0, 12, n),
        "land_size": land,
        "energy_performance_value": epv,
        "energy_performance_category": [ENERGY[e][0] for e in energy],
        "ghg_value": ghgv,
        "ghg_category": [ENERGY[g][0] for g in ghg],
        "exposition": [EXPOSITION[e] for e in expo],
        "nb_rooms": rooms,
        "nb_bedrooms": bedrooms,
        "nb_bathrooms": np.clip(rooms // 3 + rng.integers(0, 2, n), 0, 8),
        "nb_parking_places": rng.poisson(0.5, n),
        "nb_boxes": rng.poisson(0.2, n),
        "nb_photos": rng.integers(0, 25, n),
        "has_a_balcony": rng.integers(0, 2, n).astype(float),
        "nb_terraces": rng.poisson(0.3, n).astype(float),
        "has_a_cellar": rng.integers(0, 2, n).astype(float),
        "has_a_garage": rng.integers(0, 2, n).astype(float),
        "has_air_conditioning": (rng.random(n) < 0.1).astype(float),
        "last_floor": (rng.random(n) < 0.15).astype(float),
        "upper_floors": (rng.random(n) < 0.3).astype(float),
    }
    nulls = {c: rng.random(n) < r for c, r in NULL_RATES.items() if r > 0}
    # vocabulary rows stay complete so each label really reaches the indexer
    for mask in nulls.values():
        mask[:len(PROPERTY_TYPES)] = False
    price = np.round(np.exp(log_price), -2)
    return cols, nulls, price


def _fmt(v):
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    return str(v)


def write_split(out_dir, name, first_id, seed, n):
    cols, nulls, price = generate(seed, n)
    ids = np.arange(first_id, first_id + n)
    with open(os.path.join(out_dir, f"X_{name}.csv"), "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(X_COLUMNS)
        for i in range(n):
            row = [str(ids[i])]
            for c in X_COLUMNS[1:]:
                m = nulls.get(c)
                row.append("" if m is not None and m[i] else _fmt(cols[c][i]))
            w.writerow(row)
    with open(os.path.join(out_dir, f"y_{name}.csv"), "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(["id_annonce", "price"])
        for i in range(n):
            w.writerow([str(ids[i]), _fmt(price[i])])


def write_all(out_dir, seed, n_train, n_test):
    os.makedirs(out_dir, exist_ok=True)
    write_split(out_dir, "train", 1, seed * 2 + 1, n_train)
    write_split(out_dir, "test", 10_000_000, seed * 2 + 2, n_test)

