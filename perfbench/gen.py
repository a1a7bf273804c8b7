"""Seeded input generator for the ETL cycle.

``write_envelopes`` writes Valorant-API-shaped ``{status, data}``
envelope files, a pure function of ``(seed, n_agents)``, with every
guard case the transforms encode at a fixed share, and returns the
per-table row counts the transforms must produce from them.

The query workload needs no generator: it reads the fixture tables
shipped under ``perfbench/data/``.
"""

from __future__ import annotations

import json
import os

import numpy as np

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()

ROLES = ("Duelist", "Controller", "Initiator", "Sentinel")
CATEGORIES = ("Rifle", "Sidearm", "SMG", "Shotgun", "Sniper", "Heavy")
PENETRATION = ("Low", "Medium", "High")
SLOTS = ("Ability1", "Ability2", "Grenade", "Ultimate")


def _words(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), n_words))


def envelopes(seed: int, n_agents: int) -> tuple[dict[str, list[dict]], dict[str, int]]:
    """Envelope payloads per endpoint, and the row count per output table.

    Guard cases, each at a fixed share of its endpoint (by record index,
    so the share does not depend on the seed): unplayable and
    missing-flag agents (dropped), null role, null and >500-char
    descriptions, empty and missing abilities; null weaponStats and
    shopData, null damageRanges, one to three damage ranges; null
    callouts; gamemodes missing duration and allowsMatchTimeouts.
    """
    rng = np.random.default_rng(seed + 1)
    agents, n_playable, n_abilities = [], 0, 0
    for i in range(n_agents):
        rec = {
            "uuid": f"agent-{seed}-{i}",
            "displayName": f"Agent {i}",
            "isPlayableCharacter": i % 20 != 1,
            "role": None if i % 10 == 2 else {"displayName": ROLES[i % 4]},
            "description": None if i % 20 == 3 else _words(rng, 150 if i % 10 == 4 else 40),
            "displayIcon": f"https://img.example/a{i}.png",
        }
        if i % 20 == 5:
            del rec["isPlayableCharacter"]
        if i % 20 == 6:
            rec["abilities"] = []
        elif i % 20 != 7:
            rec["abilities"] = [
                {
                    "slot": SLOTS[k],
                    "displayName": f"Ability {i}.{k}",
                    "description": None if k == 3 and i % 3 == 0 else _words(rng, 15),
                }
                for k in range(4)
            ]
        if rec.get("isPlayableCharacter"):
            n_playable += 1
            n_abilities += len(rec.get("abilities") or [])
        agents.append(rec)

    weapons, n_ranges = [], 0
    for i in range(n_agents):
        n_r = 1 + i % 3
        stats = {
            "fireRate": float(np.round(rng.uniform(1, 16), 2)),
            "magazineSize": int(rng.integers(1, 100)),
            "reloadTimeSeconds": float(np.round(rng.uniform(1, 5), 2)),
            "equipTimeSeconds": float(np.round(rng.uniform(0.5, 2), 2)),
            "firstBulletAccuracy": float(np.round(rng.uniform(0, 1), 3)),
            "wallPenetration": f"EWallPenetrationDisplayType::{PENETRATION[i % 3]}",
            "damageRanges": None
            if i % 10 == 3
            else [
                {
                    "rangeStartMeters": 15.0 * k,
                    "rangeEndMeters": 15.0 * (k + 1),
                    "headDamage": float(np.round(rng.uniform(50, 250), 1)),
                    "bodyDamage": float(np.round(rng.uniform(20, 60), 1)),
                    "legDamage": float(np.round(rng.uniform(10, 50), 1)),
                }
                for k in range(n_r)
            ],
        }
        weapons.append(
            {
                "uuid": f"weapon-{seed}-{i}",
                "displayName": f"Weapon {i}",
                "category": f"EEquippableCategory::{CATEGORIES[i % 6]}",
                "displayIcon": f"https://img.example/w{i}.png",
                "shopData": None if i % 20 == 4 else {"cost": int(rng.integers(0, 50)) * 100},
                "weaponStats": None if i % 20 == 5 else stats,
            }
        )
        if i % 20 != 5 and i % 10 != 3:
            n_ranges += n_r

    n_maps = max(2, n_agents // 4)
    maps = [
        {
            "uuid": f"map-{seed}-{i}",
            "displayName": f"Map {i}",
            "coordinates": None if i % 10 == 1 else f"{i % 90}.5N, {i % 180}.25E",
            "callouts": None
            if i % 10 == 2
            else [{"regionName": _words(rng, 2)} for _ in range(int(rng.integers(1, 30)))],
            "splash": f"https://img.example/m{i}.png",
        }
        for i in range(n_maps)
    ]
    n_modes = max(2, n_agents // 10)
    gamemodes = []
    for i in range(n_modes):
        rec = {"uuid": f"mode-{seed}-{i}", "displayName": f"Mode {i}"}
        if i % 5 != 1:
            rec["duration"] = f"{10 + i % 30} minutes"
            rec["allowsMatchTimeouts"] = bool(i % 2)
        gamemodes.append(rec)

    payloads = {"agents": agents, "weapons": weapons, "maps": maps, "gamemodes": gamemodes}
    counts = {
        "agents": n_playable,
        "abilities": n_abilities,
        "weapons": n_agents,
        "weapon_damage": n_ranges,
        "maps": n_maps,
        "gamemodes": n_modes,
    }
    return payloads, counts


def write_envelopes(out_dir: str, seed: int, n_agents: int) -> tuple[dict[str, int], int]:
    """Write ``<endpoint>.json`` envelopes; return (row count per output
    table, landing bytes written)."""
    os.makedirs(out_dir, exist_ok=True)
    payloads, counts = envelopes(seed, n_agents)
    total = 0
    for ep, data in payloads.items():
        path = os.path.join(out_dir, f"{ep}.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"status": 200, "data": data}, f)
        total += os.path.getsize(path)
    return counts, total
