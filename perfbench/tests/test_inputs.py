"""Input generator tests: the same seed gives byte-identical inputs, another
seed different ones, and the ground truth reaches every REM2 branch.

Run from the checkout root: python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pb import catalog, pdf, sanctions  # noqa: E402


def _files(root):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.relpath(os.path.join(d, f), root) for f in fs]
    return sorted(out)


def _same_tree(a, b):
    fa, fb = _files(a), _files(b)
    if fa != fb:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, fa, shallow=False)
    return not mismatch and not errors


def _stream_ends(doc):
    """Offsets of the bare LF before each ``endstream``."""
    out, at = [], doc.find(b"\nendstream")
    while at >= 0:
        out.append(at)
        at = doc.find(b"\nendstream", at + 1)
    return out


class SanctionsInputs(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            sanctions.generate(a, 3000, 12, seed=5)
            sanctions.generate(b, 3000, 12, seed=5)
            sanctions.generate(c, 3000, 12, seed=6)
            self.assertTrue(_same_tree(a, b))
            self.assertFalse(_same_tree(a, c))

    def test_truth_reaches_every_branch_and_document_kind(self):
        with tempfile.TemporaryDirectory() as t:
            truth = sanctions.generate(t, 3000, 12, seed=9)
            with open(os.path.join(t, "truth.json")) as f:
                self.assertEqual(json.load(f), truth)
            for branch in ("unique_match", "unique_miss", "duplicate_agree",
                           "duplicate_conflict", "pass3_chain", "unknown_name"):
                self.assertGreater(truth["branches"].get(branch, 0), 0, branch)
            self.assertEqual(sum(truth["branches"].values()), 3000)
            self.assertEqual(set(truth["doc_kinds"]), set(pdf.KINDS))
            self.assertEqual(truth["docs_corrupt"], 2)
            self.assertEqual(truth["eol_probe_cr_pages"], truth["eol_probe_pages"] // 2)
            names = sorted(os.listdir(os.path.join(t, "pdf")))
            self.assertEqual(names, ["report_%05d.pdf" % (i + 1) for i in range(12)])

    def test_fill_passes(self):
        # [unique A, dup X, dup Y, unique A] + partners: Y agrees, X chains in pass 3
        names = ["a", "x", "y", "b", "x", "y", "UNKNOWN", "c"]
        cands = ["A", "", "B", "A", "", "B", "", ""]
        rem2, yellow, red, branch = sanctions.rem2_fill(names, cands)
        self.assertEqual(branch, ["unique_match", "pass3_chain", "duplicate_agree",
                                  "unique_match", "duplicate_conflict",
                                  "duplicate_conflict", "unknown_name", "unique_miss"])
        self.assertEqual(rem2[:4], ["A", "A", "A", "A"])
        self.assertEqual(red, [False, False, False, False, True, True, False, False])
        self.assertEqual(yellow, [False] * 6 + [True, True])


class CatalogInputs(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            catalog.generate(a, 0.002, seed=5)
            catalog.generate(b, 0.002, seed=5)
            catalog.generate(c, 0.002, seed=6)
            self.assertTrue(_same_tree(a, b))
            self.assertFalse(_same_tree(a, c))
            self.assertEqual(len(_files(a)), 10)


class PdfWriter(unittest.TestCase):
    def test_aes_matches_the_fips_197_vector(self):
        key = bytes(range(16))
        block = bytes.fromhex("00112233445566778899aabbccddeeff")
        out = pdf.aes128_cbc_encrypt(key, bytes(16), block)
        self.assertEqual(out[16:32].hex(), "69c4e0d86a7b0430d8cdb78070b4c55a")

    def test_aes_stream_ends_in_cr_only_on_the_named_pages(self):
        doc = pdf.write(["page %d" % i for i in range(6)], "aes", cr_pages=(1, 4))
        ends = [doc[at - 1] for at in _stream_ends(doc)]
        self.assertEqual([b == 0x0D for b in ends],
                         [False, True, False, False, True, False])
        plain = pdf.write(["page %d" % i for i in range(6)], "aes")
        self.assertNotIn(0x0D, [plain[at - 1] for at in _stream_ends(plain)])

    def test_rc4_matches_a_known_vector(self):
        self.assertEqual(pdf.rc4(b"Key", b"Plaintext").hex(), "bbf316e8d940af0ad3")


if __name__ == "__main__":
    unittest.main()
