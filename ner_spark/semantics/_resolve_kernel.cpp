/* Compiled twin of ner_spark/semantics/resolve.py (stages b-k) for the
 * production path: mode="default", lang="en", find_names=False.
 *
 * Brand-new code: this is a line-for-line semantic port of OUR pure-Python
 * resolve module (itself a from-scratch reimplementation of the reference's
 * observable behavior — see resolve.py's module docstring for the quirk
 * inventory and /root/reference citations).  No reference code was consulted
 * for this file; every stage cites the resolve.py anchor it mirrors, and the
 * differential fuzz test (tests/test_ckernel.py) pins C-vs-Python equality
 * on every output field.
 *
 * One entry point, scan_resolve_doc: the automaton scan, the per-match
 * pre-pass and stages b-k in one native call per document.
 *
 * Division of labor (ckernel.py wrapper):
 *   Python supplies everything that needs re/dateutil/unicodedata — date
 *     matches with pre-rendered ISO strings, paragraph offsets, and two
 *     callbacks: frag_cb (source/deaccent-lower/pronoun flags of a
 *     non-ASCII or NCR fragment, cached per KB image) and lazy_cb (the
 *     deaccented "clean" text and proper-noun regex spans, called only when
 *     the overlap filter needs them) — plus the KB image (ckernel.kb_image):
 *     the KB columns, lookup tables and word-id trie as one flat buffer,
 *     built once on the driver, bounds-checked once by wrap_image and read
 *     in place.
 *   C owns the scan and the sequential state machine: Mention/Register/
 *     Context, disambiguation, coreference, overlap/nearby filters, output
 *     rows.
 *
 * Anything this file cannot faithfully reproduce raises _resolve_ck.Fallback
 * and the wrapper re-runs the pure-Python path for that document.
 */

#define PY_SSIZE_T_CLEAN
#include <Python.h>

#include <algorithm>
#include <cstdint>
#include <cstdlib>
#include <cstring>
#include <string>
#include <unordered_map>
#include <unordered_set>
#include <vector>

using std::vector;

static PyObject *FallbackError;  // _resolve_ck.Fallback

// ---------------------------------------------------------------------------
// UCS4 string helpers (all text handled as Py_UCS4 arrays)
// ---------------------------------------------------------------------------

typedef vector<Py_UCS4> U32;

static U32 to_u32(PyObject *s) {
    U32 out;
    if (s == NULL || s == Py_None) return out;
    Py_ssize_t n = PyUnicode_GET_LENGTH(s);
    out.resize((size_t)n);
    if (n) PyUnicode_AsUCS4(s, out.data(), n, 0);
    return out;
}

// A view into the KB image: an id list is a (pointer, length) slice of an
// int array, a string (Str) a slice of the UCS-4 blob, with the
// data()/size() pair the string helpers below take.
template <typename T>
struct Span {
    const T *p;
    size_t n;
    const T *data() const { return p; }
    size_t size() const { return n; }
    bool empty() const { return n == 0; }
    T back() const { return p[n - 1]; }
    const T *begin() const { return p; }
    const T *end() const { return p + n; }
};
typedef Span<Py_UCS4> Str;

static inline bool u32_eq(const Py_UCS4 *a, Py_ssize_t an,
                          const Py_UCS4 *b, Py_ssize_t bn) {
    if (an != bn) return false;
    if (an == 0) return true;  // empty vectors may carry null data()
    return memcmp(a, b, (size_t)an * sizeof(Py_UCS4)) == 0;
}

template <typename A, typename B>
static inline bool u32_eq(const A &a, const B &b) {
    return u32_eq(a.data(), (Py_ssize_t)a.size(), b.data(), (Py_ssize_t)b.size());
}

// Python str.find(sub, start, end): match must lie fully in [start, end).
// Returns absolute index or -1.  Python clamps; empty needle returns
// max(start, 0) if start <= len (we only ever call with valid ranges).
static Py_ssize_t u32_find(const Py_UCS4 *hay, Py_ssize_t n,
                           const Py_UCS4 *needle, Py_ssize_t m,
                           Py_ssize_t start, Py_ssize_t end) {
    if (start < 0) start = 0;
    if (end > n) end = n;
    if (m == 0) return start <= end ? start : -1;
    for (Py_ssize_t i = start; i + m <= end; i++) {
        if (hay[i] == needle[0] &&
            memcmp(hay + i, needle, (size_t)m * sizeof(Py_UCS4)) == 0)
            return i;
    }
    return -1;
}

template <typename H, typename N>
static inline Py_ssize_t u32_find(const H &hay, const N &needle,
                                  Py_ssize_t start, Py_ssize_t end) {
    return u32_find(hay.data(), (Py_ssize_t)hay.size(), needle.data(),
                    (Py_ssize_t)needle.size(), start, end);
}

// "a in b" (substring anywhere)
template <typename H, typename N>
static inline bool u32_contains(const H &hay, const N &needle) {
    return u32_find(hay, needle, 0, (Py_ssize_t)hay.size()) != -1;
}

// bisect_left / bisect_right over int vectors
static Py_ssize_t bisect_left(const vector<int64_t> &a, int64_t x) {
    return std::lower_bound(a.begin(), a.end(), x) - a.begin();
}
static Py_ssize_t bisect_right(const vector<int64_t> &a, int64_t x) {
    return std::upper_bound(a.begin(), a.end(), x) - a.begin();
}

// ---------------------------------------------------------------------------
// KB image (ckernel.kb_image): one flat, position-independent buffer built
// on the driver, checked once here and then read in place
// ---------------------------------------------------------------------------

// context-dispatch kinds — MUST match KBBundle.CTX_* (kb.py:253)
enum { CTX_GEO = 0, CTX_PERSON = 1, CTX_ORG = 2, CTX_EVENT = 3,
       CTX_CHAR = 4, CTX_NONE = 5 };

#define IMAGE_VERSION 1  // ckernel.IMAGE_VERSION
static const char IMAGE_MAGIC[8] = {'N', 'E', 'R', 'K', 'B', 'I', 'M', 'G'};

// section order — MUST match ckernel._SECTIONS
enum {
    S_META, S_STR_OFF, S_STR_BLOB, S_SCORE,
    S_NAME_SID, S_COUNTRY_SID, S_LOC_SID, S_START_SID, S_END_SID, S_TYPE_SID,
    S_CTX_CHAR,
    S_GENDER, S_PERSON_EXACT, S_ARTIST, S_GROUP, S_PERSON_SUB, S_LOC_SUB,
    S_GEO_SUB, S_TYPE_EXACT, S_CTX_KIND,
    S_JOBS_OFF, S_JOBS, S_ROLES_OFF, S_ROLES, S_NATS_OFF, S_NATS,
    S_PDATES_OFF, S_PDATES,
    S_VERBS, S_THERE_CTX,
    S_ND_SLOTS, S_ND_KEY, S_ND_OFF, S_ND_IDS,
    S_NATF_SLOTS, S_NATF_KEY,
    S_PRON_SLOTS, S_PRON_KEY, S_PRON_MASK,
    S_W_SLOTS, S_W_KEY,
    S_T_KEYS, S_T_NEXT,
    S_S_TERM, S_TERM_OFF, S_TERM_IDS,
    S_COUNT
};
static const uint8_t SECTION_ELEM[S_COUNT] = {
    8, 4, 4, 8,
    4, 4, 4, 4, 4, 4,
    4,
    1, 1, 1, 1, 1, 1, 1, 1, 1,
    4, 4, 4, 4, 4, 4,
    4, 4,
    4, 4,
    4, 4, 4, 8,
    4, 4,
    4, 4, 4,
    4, 4,
    8, 4,
    4, 4, 8,
};
enum { META_N_ROWS, META_EMPTY_SID, META_N_STATES, META_COUNT };

// the hashes ckernel.kb_image places keys with: FNV-1a over code points,
// folded, for strings; the splitmix64 finalizer for trie transitions
static inline uint64_t str_hash(const Py_UCS4 *s, size_t n) {
    uint64_t h = 0xcbf29ce484222325ULL;
    for (size_t i = 0; i < n; i++) {
        h ^= s[i];
        h *= 0x100000001b3ULL;
    }
    return h ^ (h >> 32);
}

static inline uint64_t mix64(uint64_t x) {
    x ^= x >> 30;
    x *= 0xbf58476d1ce4e5b9ULL;
    x ^= x >> 27;
    x *= 0x94d049bb133111ebULL;
    x ^= x >> 31;
    return x;
}

static const uint64_t T_EMPTY = ~(uint64_t)0;

// open-addressing string table: slots hold an entry index (-1 = empty),
// an entry's key is a strtab id
struct StrTable {
    Span<int32_t> slots;  // power-of-two capacity
    Span<int32_t> key;
};

struct FragInfo {
    U32 source, dl;
    int32_t flags;        // pron|the_lower|The_title|There (not is_nat)
    bool is_nat_form;     // source ∈ nationality_forms
    Span<int64_t> pms;    // name_dict hit (empty when none)
};

struct KBImage {
    Py_buffer view;               // holds the buffer's exporter alive
    vector<uint64_t> aligned;     // copy, only when the buffer is misaligned
    int64_t n = 0;                // rows; row arrays hold n+1, index 0 neutral
    int32_t empty_sid = 0;        // sid of ""
    Span<uint32_t> str_off;
    Span<Py_UCS4> str_blob;
    const double *score;
    const int32_t *name_sid, *country_sid, *loc_sid, *start_sid, *end_sid,
        *type_sid;
    const uint32_t *ctx_char;     // codepoint (0 when none)
    const uint8_t *gender;        // 0 none / 1 M / 2 F
    const uint8_t *person_exact;  // person_flag_arr (exact-type tuple)
    const uint8_t *artist, *group, *person_sub, *loc_sub, *geo_sub;
    const uint8_t *type_exact;    // 0 none / 1 == "person" / 2 == "location"
    const uint8_t *ctx_kind;
    struct CSR {
        Span<uint32_t> off;
        Span<int32_t> val;
        Span<int32_t> operator[](size_t i) const {
            return Span<int32_t>{val.p + off.p[i], off.p[i + 1] - off.p[i]};
        }
    } jobs, roles, nats, pdates;  // sids per row
    // EN language tables (lang.py EN)
    vector<Str> verbs;            // " was ", " were ", " is "
    vector<Str> there_ctx;        // location-coref right contexts
    // fused-scan tables (ckernel.try_scan_resolve)
    StrTable name_dict;           // dl → ids (nd_off/nd_ids)
    Span<uint32_t> nd_off;
    Span<int64_t> nd_ids;
    StrTable nat_forms;
    StrTable pron;                // source_lower → mask
    Span<int32_t> pron_mask;
    // word-id trie: words → wid, (state, sep, wid) → next state,
    // final states → their id lists
    StrTable words;
    Span<uint64_t> t_keys;        // (state << 32 | sep << 31 | wid)
    Span<int32_t> t_next;
    Span<int32_t> s_term;         // state → term index (-1: not final)
    Span<uint32_t> term_off;
    Span<int64_t> term_ids;
    // fragment pre-pass cache (fragments repeat Zipf-heavily); mutable at
    // scan time — safe: one GIL-held call at a time per process
    std::unordered_map<std::u32string, FragInfo> frag_cache;

    Str str(int32_t sid) const {
        return Str{str_blob.p + str_off.p[sid],
                   str_off.p[sid + 1] - str_off.p[sid]};
    }
    // entry index of s in t, or -1
    int32_t find(const StrTable &t, const Py_UCS4 *s, size_t len) const {
        size_t mask = t.slots.n - 1;
        size_t pos = (size_t)str_hash(s, len) & mask;
        for (size_t i = 0; i < t.slots.n; i++, pos = (pos + 1) & mask) {
            int32_t e = t.slots.p[pos];
            if (e < 0) return -1;
            Str k = str(t.key.p[e]);
            if (u32_eq(k.p, (Py_ssize_t)k.n, s, (Py_ssize_t)len)) return e;
        }
        return -1;
    }
    // next trie state, or -1
    int32_t step(int32_t state, int sep, int32_t wid) const {
        uint64_t key = (uint64_t)(uint32_t)state << 32 |
                       (uint64_t)sep << 31 | (uint64_t)(uint32_t)wid;
        size_t mask = t_keys.n - 1;
        size_t pos = (size_t)mix64(key) & mask;
        for (size_t i = 0; i < t_keys.n; i++, pos = (pos + 1) & mask) {
            uint64_t k = t_keys.p[pos];
            if (k == key) return t_next.p[pos];
            if (k == T_EMPTY) return -1;
        }
        return -1;
    }
};

static void image_destructor(PyObject *cap) {
    KBImage *img = (KBImage *)PyCapsule_GetPointer(cap, "ner_spark.kbimage");
    PyBuffer_Release(&img->view);
    delete img;
}

// ---- one-time bounds check: every offset, index and enum the scan and
// the stages read is in range afterwards, so a bad image raises here and
// never reaches them

template <typename T>
static bool all_in(Span<T> s, int64_t lo, int64_t hi) {  // lo <= v < hi
    for (size_t i = 0; i < s.n; i++)
        if ((int64_t)s.p[i] < lo || (int64_t)s.p[i] >= hi) return false;
    return true;
}

static bool offsets_ok(Span<uint32_t> off, size_t nval) {
    if (off.n == 0 || off.p[0] != 0 || off.p[off.n - 1] != nval) return false;
    for (size_t i = 1; i < off.n; i++)
        if (off.p[i] < off.p[i - 1]) return false;
    return true;
}

static bool pow2(size_t n) { return n && !(n & (n - 1)); }

static const char *check_table(const StrTable &t, int64_t n_str) {
    if (!pow2(t.slots.n)) return "hash table capacity";
    if (!all_in(t.slots, -1, (int64_t)t.key.n)) return "hash slot";
    if (!all_in(t.key, 0, n_str)) return "hash key";
    return nullptr;
}

static const char *load_image(KBImage *img, const uint8_t *buf, size_t size) {
    const size_t head = 16 + 16 * (size_t)S_COUNT;
    if (size < head) return "truncated header";
    if (memcmp(buf, IMAGE_MAGIC, 8) != 0) return "bad magic";
    uint32_t version, nsec;
    memcpy(&version, buf + 8, 4);
    memcpy(&nsec, buf + 12, 4);
    if (version != IMAGE_VERSION) return "format version mismatch";
    if (nsec != S_COUNT) return "section count";
    const void *sec[S_COUNT];
    size_t cnt[S_COUNT];
    for (int s = 0; s < S_COUNT; s++) {
        uint64_t off, nbytes;
        memcpy(&off, buf + 16 + 16 * s, 8);
        memcpy(&nbytes, buf + 24 + 16 * s, 8);
        if (off % 8 || off < head || off > size || nbytes > size - off ||
            nbytes % SECTION_ELEM[s])
            return "section out of bounds";
        sec[s] = buf + off;
        cnt[s] = nbytes / SECTION_ELEM[s];
    }
#define SPAN(T, s) Span<T>{(const T *)sec[s], cnt[s]}
    Span<int64_t> meta = SPAN(int64_t, S_META);
    if (meta.n != META_COUNT) return "meta";
    int64_t n = meta.p[META_N_ROWS];
    if (n < 0 || n >= INT32_MAX) return "row count";
    img->n = n;
    const size_t rows = (size_t)n + 1;
    img->str_off = SPAN(uint32_t, S_STR_OFF);
    img->str_blob = SPAN(Py_UCS4, S_STR_BLOB);
    if (!offsets_ok(img->str_off, img->str_blob.n)) return "string offsets";
    const int64_t n_str = (int64_t)img->str_off.n - 1;
    img->empty_sid = (int32_t)meta.p[META_EMPTY_SID];
    if (meta.p[META_EMPTY_SID] < 0 || meta.p[META_EMPTY_SID] >= n_str)
        return "empty sid";
    static const int row_sid[] = {S_NAME_SID, S_COUNTRY_SID, S_LOC_SID,
                                  S_START_SID, S_END_SID, S_TYPE_SID};
    for (int s : row_sid)
        if (cnt[s] != rows || !all_in(SPAN(int32_t, s), 0, n_str))
            return "row string ids";
    for (int s = S_GENDER; s <= S_CTX_KIND; s++)
        if (cnt[s] != rows) return "row flags";
    if (cnt[S_SCORE] != rows || cnt[S_CTX_CHAR] != rows) return "row arrays";
    if (!all_in(SPAN(uint8_t, S_GENDER), 0, 3) ||
        !all_in(SPAN(uint8_t, S_TYPE_EXACT), 0, 3) ||
        !all_in(SPAN(uint8_t, S_CTX_KIND), 0, CTX_NONE + 1))
        return "row enums";
    img->score = (const double *)sec[S_SCORE];
    img->name_sid = (const int32_t *)sec[S_NAME_SID];
    img->country_sid = (const int32_t *)sec[S_COUNTRY_SID];
    img->loc_sid = (const int32_t *)sec[S_LOC_SID];
    img->start_sid = (const int32_t *)sec[S_START_SID];
    img->end_sid = (const int32_t *)sec[S_END_SID];
    img->type_sid = (const int32_t *)sec[S_TYPE_SID];
    img->ctx_char = (const uint32_t *)sec[S_CTX_CHAR];
    img->gender = (const uint8_t *)sec[S_GENDER];
    img->person_exact = (const uint8_t *)sec[S_PERSON_EXACT];
    img->artist = (const uint8_t *)sec[S_ARTIST];
    img->group = (const uint8_t *)sec[S_GROUP];
    img->person_sub = (const uint8_t *)sec[S_PERSON_SUB];
    img->loc_sub = (const uint8_t *)sec[S_LOC_SUB];
    img->geo_sub = (const uint8_t *)sec[S_GEO_SUB];
    img->type_exact = (const uint8_t *)sec[S_TYPE_EXACT];
    img->ctx_kind = (const uint8_t *)sec[S_CTX_KIND];
    KBImage::CSR *csr[] = {&img->jobs, &img->roles, &img->nats, &img->pdates};
    for (int k = 0; k < 4; k++) {
        csr[k]->off = SPAN(uint32_t, S_JOBS_OFF + 2 * k);
        csr[k]->val = SPAN(int32_t, S_JOBS + 2 * k);
        if (csr[k]->off.n != rows + 1 ||
            !offsets_ok(csr[k]->off, csr[k]->val.n) ||
            !all_in(csr[k]->val, 0, n_str))
            return "row id lists";
    }
    for (int s : {S_VERBS, S_THERE_CTX}) {
        Span<int32_t> sids = SPAN(int32_t, s);
        if (!all_in(sids, 0, n_str)) return "language tables";
        vector<Str> &out = s == S_VERBS ? img->verbs : img->there_ctx;
        for (int32_t sid : sids) out.push_back(img->str(sid));
    }
    img->name_dict = StrTable{SPAN(int32_t, S_ND_SLOTS), SPAN(int32_t, S_ND_KEY)};
    img->nd_off = SPAN(uint32_t, S_ND_OFF);
    img->nd_ids = SPAN(int64_t, S_ND_IDS);
    img->nat_forms = StrTable{SPAN(int32_t, S_NATF_SLOTS),
                              SPAN(int32_t, S_NATF_KEY)};
    img->pron = StrTable{SPAN(int32_t, S_PRON_SLOTS), SPAN(int32_t, S_PRON_KEY)};
    img->pron_mask = SPAN(int32_t, S_PRON_MASK);
    img->words = StrTable{SPAN(int32_t, S_W_SLOTS), SPAN(int32_t, S_W_KEY)};
    for (const StrTable *t : {&img->name_dict, &img->nat_forms, &img->pron,
                              &img->words}) {
        const char *err = check_table(*t, n_str);
        if (err) return err;
    }
    if (img->nd_off.n != img->name_dict.key.n + 1 ||
        !offsets_ok(img->nd_off, img->nd_ids.n))
        return "name_dict ids";
    if (img->pron_mask.n != img->pron.key.n) return "pronoun masks";
    img->t_keys = SPAN(uint64_t, S_T_KEYS);
    img->t_next = SPAN(int32_t, S_T_NEXT);
    img->s_term = SPAN(int32_t, S_S_TERM);
    img->term_off = SPAN(uint32_t, S_TERM_OFF);
    img->term_ids = SPAN(int64_t, S_TERM_IDS);
    int64_t n_states = meta.p[META_N_STATES];
    if (n_states < 1 || (size_t)n_states != img->s_term.n) return "trie states";
    if (!pow2(img->t_keys.n) || img->t_next.n != img->t_keys.n ||
        !all_in(img->t_next, -1, n_states))
        return "trie transitions";
    if (img->term_off.n == 0 ||
        !all_in(img->s_term, -1, (int64_t)img->term_off.n - 1) ||
        !offsets_ok(img->term_off, img->term_ids.n))
        return "trie ids";
#undef SPAN
    return nullptr;
}

// wrap_image(buffer) -> capsule: check the image once, then read it in
// place (a misaligned buffer is copied once into an aligned one)
static PyObject *wrap_image(PyObject *self, PyObject *arg) {
    KBImage *img = new KBImage();
    if (PyObject_GetBuffer(arg, &img->view, PyBUF_SIMPLE) < 0) {
        delete img;
        return NULL;
    }
    const uint8_t *buf = (const uint8_t *)img->view.buf;
    size_t size = (size_t)img->view.len;
    if ((uintptr_t)buf % 8) {
        img->aligned.resize((size + 7) / 8);
        memcpy(img->aligned.data(), buf, size);
        buf = (const uint8_t *)img->aligned.data();
    }
    const char *err = load_image(img, buf, size);
    if (err) {
        PyBuffer_Release(&img->view);
        delete img;
        PyErr_Format(PyExc_ValueError, "bad KB image: %s", err);
        return NULL;
    }
    PyObject *cap = PyCapsule_New(img, "ner_spark.kbimage", image_destructor);
    if (!cap) {
        PyBuffer_Release(&img->view);
        delete img;
    }
    return cap;
}

// Python-list indexing semantics for the KB hot arrays (resolve.py indexes
// plain lists, so a negative line id silently wraps — bug-for-bug parity).
// Returns -1 when Python would raise IndexError (caller raises Fallback).
static inline int64_t kb_index(const KBImage *p, int64_t line) {
    if (line >= 0) return line <= p->n ? line : -1;
    int64_t i = p->n + 1 + line;
    return i >= 0 ? i : -1;
}

// ---------------------------------------------------------------------------
// Per-document structures
// ---------------------------------------------------------------------------

// preferred_sense tagged value (resolve.py Mention.preferred_sense:
// None | int | Mention)
enum { P_NONE = 0, P_INT = 1, P_MEN = 2 };
struct Pref {
    int8_t tag = P_NONE;
    int64_t v = 0;  // int value or mention index
};
static inline bool pref_truthy(const Pref &p) {  // Python bool(preferred_sense)
    return p.tag == P_MEN || (p.tag == P_INT && p.v != 0);
}

// per-match pre-pass flags (ckernel.py _prepass)
enum {
    FL_PRON_M = 1, FL_PRON_F = 2, FL_PRON_L = 4,   // pronoun class of source_lower
    FL_THE_LOWER = 8,    // source_lower.startswith("the ")
    FL_THE_TITLE = 16,   // source.startswith("The ")
    FL_THERE = 32,       // source == "There"
    FL_IS_NAT = 64,      // senses empty and source in nationality_forms
};
#define FL_PRON_ANY (FL_PRON_M | FL_PRON_F | FL_PRON_L)

struct Mention {
    int32_t start, end;
    int32_t source_id;
    int32_t flags;
    // source / deaccent_lower(source) content: pointers into the KB pack's
    // fragment cache, which is only cleared between documents
    const U32 *srcp = nullptr;
    const U32 *dlp = nullptr;
    vector<int64_t> senses;
    vector<int64_t> pms;         // partial_match_senses (sorted)
    vector<int64_t> candidates;
    vector<double> score, static_score, context_score;
    Pref pref;
    bool is_coreference = false;
    bool is_nationality = false;
    bool poorly_disambiguated = true;
    bool next_to_same_type = false;
    int64_t begin_of_paragraph = -1;  // -1 == None

    const U32 &src_text() const { return *srcp; }
    const U32 &dl_text() const { return *dlp; }
};

struct DateM {  // pre-rendered DateMatch (ckernel.py supplies the strings)
    int32_t start, end;
    PyObject *source;   // borrowed
    PyObject *iso_out;  // borrowed; iso() or "a -- b"
    int32_t conf;
    int8_t is_interval; // → kind "interval"
    U32 swz, swz_to;    // show_without_zeros strings ("" = absent)
    bool has_swz_to;
};

static const int64_t SENSE_NONE = INT64_MIN;  // register key for None

// EntityRegister (resolve.py:155-214): forward map eager, per-sense buckets
// lazy-then-incremental.  Bucket order is unobservable (see resolve.py
// docstring) but we mirror the dict-order behavior anyway: erase on
// re-point, append on (re)register.
struct Register {
    vector<int8_t> registered;   // per mention
    vector<int64_t> cur;         // current sense (SENSE_NONE == None)
    vector<int32_t> order;       // first-registration order
    bool built = false;
    std::unordered_map<int64_t, vector<int32_t>> buckets;

    explicit Register(size_t n) : registered(n, 0), cur(n, SENSE_NONE) {}

    void insert(int32_t m, int64_t sense) {
        if (registered[(size_t)m]) {
            if (cur[(size_t)m] == sense) return;
            int64_t old = cur[(size_t)m];
            cur[(size_t)m] = sense;
            if (built) {
                auto it = buckets.find(old);
                if (it != buckets.end()) {
                    auto &v = it->second;
                    v.erase(std::remove(v.begin(), v.end(), m), v.end());
                }
                buckets[sense].push_back(m);
            }
            return;
        }
        registered[(size_t)m] = 1;
        cur[(size_t)m] = sense;
        order.push_back(m);
        if (built) buckets[sense].push_back(m);
    }

    const vector<int32_t> &mentions_of(int64_t sense) {
        static const vector<int32_t> kEmpty;
        if (!built) {
            for (int32_t m : order) buckets[cur[(size_t)m]].push_back(m);
            built = true;
        }
        auto it = buckets.find(sense);
        return it == buckets.end() ? kEmpty : it->second;
    }
};

// ---------------------------------------------------------------------------
// Context (resolve.py:217-478)
// ---------------------------------------------------------------------------

// bucket field keys: single type-string chars by codepoint; the probe-only
// multi-char fields get sentinels that are never inserted (resolve.py's
// dict would likewise never hold them — single-char keys + "person" only)
static const uint32_t FK_PERSON = 0xFFFFFFFFu;       // inserted + probed
static const uint32_t FK_ORGANIZATION = 0xFFFFFFFEu; // probe-only
static const uint32_t FK_EVENT = 0xFFFFFFFDu;        // probe-only
static const uint32_t FK_SETTLEMENT = 0xFFFFFFFCu;   // probe-only

struct Bucket {
    std::unordered_map<int32_t, int64_t> cnt;  // interned sid -> count
    int64_t total = 0;                         // == sum(cnt.values())
};

struct ParStats {
    std::unordered_map<uint32_t, Bucket> fields;
    vector<int32_t> nat_srcids;      // dedup guard (content == srcid equality)
    vector<int32_t> nat_mentions;    // mention idx (for source content)
    vector<const U32 *> dates;       // swz strings of this paragraph's dates
    vector<int32_t> profs;           // role sids, append order
};

struct ED {          // entities_and_dates element
    int8_t is_date;
    int32_t idx;     // into mentions / dates
    int64_t start;
};

struct Doc;  // fwd

struct Context {
    const KBImage *kb;
    Doc *doc;
    vector<int64_t> paragraphs;
    vector<ParStats> par;            // by paragraph index
    vector<uint8_t> people_in_text;  // bitset over KB lines (n+1)
    Py_ssize_t paragraph_index = 0;
    // pronoun registers (mention idx, -1 == None)
    int32_t before_last_person = -1, last_person = -1, last_male = -1,
            last_female = -1, last_unknown_gender = -1, last_thing = -1,
            last_location = -1, before_last_male = -1, before_last_female = -1;

    bool init(Doc &d, const vector<ED> &ed, const vector<int32_t> &nats);
    void recompute_paragraph_offset(int64_t start);
    void update(Doc &d, int32_t mi);
    double mentioned_in_par(const int32_t *cands, size_t ncands, uint32_t field);
    double person_percentile(Doc &d, int64_t candidate);
    double common_percentile(int64_t candidate, uint32_t ch);
    double org_event_percentile(Doc &d, int64_t candidate, bool organisation);
};

// ---------------------------------------------------------------------------
// Doc: one resolve_document call's state
// ---------------------------------------------------------------------------

struct SIdx {  // _doc_sentence_index (resolve.py:531-554)
    vector<int64_t> dots, opens, closes;
    vector<vector<int64_t>> verb_occ;  // per pack verb
    bool has_verbs = false;
    bool built = false;
};

struct Doc {
    const KBImage *kb;
    U32 text, clean;
    vector<Mention> men;
    vector<DateM> dates;
    vector<int64_t> paragraphs;
    vector<std::pair<int64_t, int64_t>> pnouns;  // proper-noun spans (clean)
    bool pnouns_ready = false;    // filled lazily via lazy_cb
    PyObject *lazy_cb = nullptr;  // () -> (clean|None, pnoun list|None)
    SIdx sidx;
    bool fallback = false;   // set → wrapper re-runs pure Python

    void fail() { fallback = true; }

    // resolve.py:106-128 source accessors by flag
    bool is_pron(const Mention &m) const { return m.flags & FL_PRON_ANY; }
};

static void find_all(const U32 &text, Py_UCS4 c, vector<int64_t> &out) {
    for (size_t i = 0; i < text.size(); i++)
        if (text[i] == c) out.push_back((int64_t)i);
}

static void find_all_str(const U32 &text, const Str &needle,
                         vector<int64_t> &out) {
    // resolve.py:522-528 _find_all: find(needle, i+1) — overlapping allowed
    Py_ssize_t i = u32_find(text, needle, 0, (Py_ssize_t)text.size());
    while (i != -1) {
        out.push_back(i);
        i = u32_find(text, needle, i + 1, (Py_ssize_t)text.size());
    }
}

static void build_sidx(Doc &d) {
    if (d.sidx.built) return;
    find_all(d.text, '.', d.sidx.dots);
    find_all(d.text, '(', d.sidx.opens);
    find_all(d.text, ')', d.sidx.closes);
    d.sidx.verb_occ.resize(d.kb->verbs.size());
    for (size_t v = 0; v < d.kb->verbs.size(); v++) {
        find_all_str(d.text, d.kb->verbs[v], d.sidx.verb_occ[v]);
        if (!d.sidx.verb_occ[v].empty()) d.sidx.has_verbs = true;
    }
    d.sidx.built = true;
}

// _right_sentence (resolve.py:493-512): paren-skipping sentence tail
static U32 right_sentence(const Doc &d, const Mention &m) {
    Py_ssize_t n = (Py_ssize_t)d.text.size();
    Py_ssize_t dot = -1;
    for (Py_ssize_t i = m.end; i < n; i++)
        if (d.text[(size_t)i] == '.') { dot = i; break; }
    Py_ssize_t head_end = dot == -1 ? n : dot + 1;
    bool has_paren = false;
    for (Py_ssize_t i = m.end; i < head_end; i++) {
        Py_UCS4 c = d.text[(size_t)i];
        if (c == '(' || c == ')') { has_paren = true; break; }
    }
    U32 out;
    if (!has_paren) {
        out.assign(d.text.begin() + m.end, d.text.begin() + head_end);
        return out;
    }
    int64_t depth = 0;
    for (Py_ssize_t i = m.end; i < n; i++) {
        Py_UCS4 ch = d.text[(size_t)i];
        if (ch == ')') depth -= 1;
        else if (ch == '(') depth += 1;
        else if (!depth) {
            out.push_back(ch);
            if (ch == '.') break;
        }
    }
    return out;
}

// ---------------------------------------------------------------------------
// Context implementation (resolve.py:217-478)
// ---------------------------------------------------------------------------

bool Context::init(Doc &d, const vector<ED> &ed, const vector<int32_t> &nats) {
    kb = d.kb;
    doc = &d;
    paragraphs = d.paragraphs;
    par.clear();
    par.resize(paragraphs.size());
    people_in_text.assign((size_t)kb->n + 1, 0);

    size_t ent_index = 0, nat_index = 0;
    const size_t n_ed = ed.size(), n_nat = nats.size();
    for (size_t pi = 0; pi < paragraphs.size(); pi++) {
        ParStats &ps = par[pi];
        int64_t nxt = pi + 1 < paragraphs.size() ? paragraphs[pi + 1]
                                                 : (int64_t)1 << 62;
        while (nat_index < n_nat &&
               d.men[(size_t)nats[nat_index]].start < nxt) {
            Mention &nm = d.men[(size_t)nats[nat_index]];
            // dedup by source CONTENT == source_id (interned by value)
            bool seen = false;
            for (int32_t sid : ps.nat_srcids)
                if (sid == nm.source_id) { seen = true; break; }
            if (!seen) {
                ps.nat_srcids.push_back(nm.source_id);
                ps.nat_mentions.push_back(nats[nat_index]);
            }
            nat_index++;
        }
        int64_t par_off = paragraphs[pi];
        int64_t par_end = nxt < ((int64_t)1 << 62) ? nxt : (int64_t)d.text.size();
        // tseen: last-char bucket shared per type string — key by the
        // type's LAST char (resolve.py:283-300; empty char buckets that the
        // reference's char loop would setdefault are observably inert —
        // mentioned_in_par treats empty == missing — and are not created)
        std::unordered_set<int64_t> probed;
        while (ent_index < n_ed && ed[ent_index].start < nxt) {
            const ED &e = ed[ent_index];
            if (!e.is_date) {
                Mention &m = d.men[(size_t)e.idx];
                m.begin_of_paragraph = par_off;
                if (!m.poorly_disambiguated) {
                    Pref p = m.pref;
                    if (p.tag == P_MEN) p = d.men[(size_t)p.v].pref;
                    // "pref is a KB line id >= 1 here" (resolve.py:294);
                    // anything else would crash the Python twin → bail out
                    if (p.tag != P_INT || p.v < 1 || p.v > kb->n) {
                        d.fail();
                        return false;
                    }
                    int64_t line = p.v;
                    Str t = kb->str(kb->type_sid[(size_t)line]);
                    uint32_t fk = t.empty() ? 0 : (uint32_t)t.back();
                    Bucket &b = ps.fields[fk];
                    int32_t nm_sid = kb->name_sid[(size_t)line];
                    b.cnt[nm_sid] += 1;
                    b.total += 1;
                    if (kb->geo_sub[(size_t)line]) {
                        int32_t c_sid = kb->country_sid[(size_t)line];
                        if (!kb->str(c_sid).empty()) {
                            b.cnt[c_sid] += 1;
                            b.total += 1;
                        }
                    }
                } else if (pref_truthy(m.pref)) {
                    for (int64_t c : m.candidates) {
                        if (probed.count(c)) continue;
                        probed.insert(c);
                        int64_t ci = kb_index(kb, c);
                        if (ci < 0) { d.fail(); return false; }
                        if (kb->person_sub[(size_t)ci]) {
                            for (int32_t rsid : kb->roles[(size_t)ci]) {
                                Str role = kb->str(rsid);
                                if (u32_find(d.text, role, par_off, par_end) != -1) {
                                    bool have = false;
                                    for (int32_t q : ps.profs)
                                        if (q == rsid) { have = true; break; }
                                    if (!have) ps.profs.push_back(rsid);
                                }
                            }
                        }
                    }
                }
            } else {
                const DateM &dm = d.dates[(size_t)e.idx];
                ps.dates.push_back(&dm.swz);
                if (dm.has_swz_to) ps.dates.push_back(&dm.swz_to);
            }
            ent_index++;
        }
    }
    return true;
}

// resolve.py:328-336 — forward-only paragraph walk (quirk preserved)
void Context::recompute_paragraph_offset(int64_t start) {
    if ((size_t)(paragraph_index + 1) >= paragraphs.size()) return;
    if (paragraphs[(size_t)paragraph_index] <= start &&
        start < paragraphs[(size_t)paragraph_index + 1])
        return;
    Py_ssize_t pi = paragraph_index;
    while ((size_t)(pi + 1) < paragraphs.size() &&
           paragraphs[(size_t)pi + 1] <= start)
        pi++;
    paragraph_index = pi;
}

// resolve.py:340-366
void Context::update(Doc &d, int32_t mi) {
    Mention &m = d.men[(size_t)mi];
    Pref p = m.pref;
    if (p.tag == P_MEN) p = d.men[(size_t)p.v].pref;
    bool is_person = false, is_loc = false;
    int64_t line = -1;
    if (p.tag == P_INT && p.v >= 1) {
        line = kb_index(kb, p.v);
        if (line < 0) { d.fail(); return; }
        is_person = kb->person_sub[(size_t)line];
        is_loc = !is_person && kb->loc_sub[(size_t)line];
    }
    // (None / <1 → get_ent_type == "" → neither flag; resolve.py:347-350)
    if (is_person) {
        before_last_person = last_person;
        last_person = mi;
        uint8_t g = kb->gender[(size_t)line];
        if (g == 1) { last_male = mi; last_unknown_gender = -1; }
        else if (g == 2) { last_female = mi; last_unknown_gender = -1; }
        else last_unknown_gender = mi;
    } else if (is_loc) {
        last_location = mi;
    } else {
        last_thing = mi;
    }
}

// resolve.py:369-380
double Context::mentioned_in_par(const int32_t *cands, size_t ncands,
                                 uint32_t field) {
    ParStats &ps = par[(size_t)paragraph_index];
    auto it = ps.fields.find(field);
    if (it == ps.fields.end() || it->second.total == 0) return 0.0;
    Bucket &b = it->second;
    double score = 0.0;
    for (size_t i = 0; i < ncands; i++) {
        auto ct = b.cnt.find(cands[i]);
        if (ct != b.cnt.end()) { score = (double)ct->second; break; }
    }
    if (score != 0.0) score = score * 100.0 / (double)b.total;
    return score;
}

// resolve.py:383-432 (people_max_scores is write-only state → omitted)
double Context::person_percentile(Doc &d, int64_t candidate) {
    ParStats &ps = par[(size_t)paragraph_index];
    int64_t ci = kb_index(kb, candidate);
    if (ci < 0) { d.fail(); return 0.0; }
    double nat_score = 0.0;
    Span<int32_t> person_nats = kb->nats[(size_t)ci];
    for (int32_t nm_idx : ps.nat_mentions) {
        const U32 &nat = d.men[(size_t)nm_idx].src_text();
        for (int32_t psid : person_nats)
            if (u32_eq(nat, kb->str(psid))) { nat_score += 1; break; }
    }
    if (!ps.nat_mentions.empty())
        nat_score = nat_score * 100.0 / (double)ps.nat_mentions.size();
    double date_score = 0.0;
    Span<int32_t> person_dates = kb->pdates[(size_t)ci];
    for (const U32 *cd : ps.dates)
        for (int32_t dsid : person_dates) {
            Str pd = kb->str(dsid);
            if (u32_contains(*cd, pd) || u32_contains(pd, *cd)) date_score += 1;
        }
    if (!ps.dates.empty())
        date_score = date_score * 100.0 / (double)ps.dates.size();
    double prof_score = 0.0;
    Span<int32_t> roles = kb->roles[(size_t)ci];
    const int32_t empty_probe[1] = {kb->empty_sid};
    const int32_t *probe = roles.empty() ? empty_probe : roles.data();
    size_t nprobe = roles.empty() ? 1 : roles.size();
    for (size_t i = 0; i < nprobe; i++) {
        for (int32_t q : ps.profs)
            if (q == probe[i]) { prof_score += 1; break; }
    }
    if (!ps.profs.empty())
        prof_score = prof_score * 100.0 / (double)ps.profs.size();
    double stat = nat_score + date_score + prof_score;
    double mention_score = 0.0;
    auto it = ps.fields.find(FK_PERSON);
    if (it != ps.fields.end() && it->second.total != 0) {
        auto ct = it->second.cnt.find(kb->name_sid[(size_t)ci]);
        if (ct != it->second.cnt.end() && ct->second != 0)
            mention_score =
                (double)ct->second * 100.0 / (double)it->second.total;
    }
    return (stat + mention_score) / 4.0;
}

// resolve.py:439-448 (single-char bucket probe)
double Context::common_percentile(int64_t candidate, uint32_t ch) {
    int64_t ci = kb_index(kb, candidate);
    if (ci < 0) { doc->fail(); return 0.0; }
    int32_t probe[1] = {kb->name_sid[(size_t)ci]};
    return mentioned_in_par(probe, 1, ch);
}

// resolve.py:451-478
double Context::org_event_percentile(Doc &d, int64_t candidate,
                                     bool organisation) {
    // callers pass "organization"(z) / "event" → both take the else branch
    // of the 'organisation' spelling test (START/END columns)
    int64_t ci = kb_index(kb, candidate);
    if (ci < 0) { d.fail(); return 0.0; }
    int32_t name_probe[1] = {kb->name_sid[(size_t)ci]};
    double mention_score = mentioned_in_par(
        name_probe, 1, organisation ? FK_ORGANIZATION : FK_EVENT);
    int32_t loc_probe[1] = {kb->loc_sid[(size_t)ci]};
    double place_score = mentioned_in_par(loc_probe, 1, FK_SETTLEMENT);
    int32_t ds[2] = {kb->start_sid[(size_t)ci], kb->end_sid[(size_t)ci]};
    ParStats &ps = par[(size_t)paragraph_index];
    double date_score = 0.0;
    for (const U32 *cd : ps.dates)
        for (int k = 0; k < 2; k++) {
            Str od = kb->str(ds[k]);
            if (!cd->empty() && !od.empty() &&
                (u32_contains(*cd, od) || u32_contains(od, *cd)))
                date_score += 1;
        }
    if (!ps.dates.empty())
        date_score = date_score * 100.0 / (double)ps.dates.size();
    return (mention_score + place_score + date_score) / 3.0;
}

// ---------------------------------------------------------------------------
// Disambiguation (resolve.py:557-739)
// ---------------------------------------------------------------------------

static void set_preferred(Doc &d, Register &reg, int32_t mi, Pref p) {
    Mention &m = d.men[(size_t)mi];
    m.pref = p;
    if (p.tag != P_MEN)
        reg.insert(mi, p.tag == P_NONE ? SENSE_NONE : p.v);
}

static void ordered_dedup(vector<int64_t> &v) {
    std::unordered_set<int64_t> seen;
    size_t w = 0;
    for (size_t i = 0; i < v.size(); i++)
        if (seen.insert(v[i]).second) v[w++] = v[i];
    v.resize(w);
}

static const Py_UCS4 INTO_PAD[] = {' ', 'i', 'n', 't', 'o', ' '};

// EN sense eliminations (lang.py:42-61 _en_sense_rules)
static bool en_sense_rules(Doc &d, Mention &m) {
    const KBImage *kb = d.kb;
    Py_ssize_t n = (Py_ssize_t)d.text.size();
    bool rs = m.end + 2 <= n && d.text[(size_t)m.end] == '\'' &&
              d.text[(size_t)m.end + 1] == 's';
    bool the = m.flags & FL_THE_TITLE;
    bool ls = m.start >= 6 &&
              u32_eq(d.text.data() + m.start - 6, 6, INTO_PAD, 6);
    if (!(rs || the || ls)) return true;
    vector<int64_t> out;
    for (int64_t s : m.senses) {
        int64_t si = kb_index(kb, s);
        if (si < 0) { d.fail(); return false; }
        bool loc = kb->loc_sub[(size_t)si];
        if (loc && (rs || the)) continue;
        if (!loc && ls) continue;
        out.push_back(s);
    }
    m.senses.swap(out);
    return true;
}

// resolve.py:557-659 disambiguate_without_context
static bool dwoc(Doc &d, Register &reg, int32_t mi) {
    const KBImage *kb = d.kb;
    Mention &m = d.men[(size_t)mi];
    if ((m.flags & FL_PRON_ANY) || !m.pms.empty()) {
        m.is_coreference = true;
        return true;
    }
    if (!en_sense_rules(d, m)) return false;

    // artist → exclude groups
    for (int64_t s : m.senses) {
        int64_t si = kb_index(kb, s);
        if (si < 0) { d.fail(); return false; }
        if (kb->artist[(size_t)si]) {
            vector<int64_t> kept;
            for (int64_t x : m.senses) {
                int64_t xi = kb_index(kb, x);
                if (xi < 0) { d.fail(); return false; }
                if (!kb->group[(size_t)xi]) kept.push_back(x);
            }
            m.senses.swap(kept);
            break;
        }
    }

    // verb + JOBS elimination (resolve.py:583-642)
    int64_t verb_index = -1;
    bool has_person = false;
    for (int64_t s : m.senses) {
        int64_t si = kb_index(kb, s);
        if (si < 0) { d.fail(); return false; }
        if (kb->person_exact[(size_t)si]) { has_person = true; break; }
    }
    U32 sentence;
    bool have_sentence = false;
    int64_t send = -1;
    int64_t text_len = (int64_t)d.text.size();
    if (has_person) {
        build_sidx(d);
        if (d.sidx.has_verbs) {
            int64_t e_end = m.end;
            Py_ssize_t di = bisect_left(d.sidx.dots, e_end);
            send = di < (Py_ssize_t)d.sidx.dots.size()
                       ? d.sidx.dots[(size_t)di] + 1 : text_len;
            Py_ssize_t oi = bisect_left(d.sidx.opens, e_end);
            Py_ssize_t ci = bisect_left(d.sidx.closes, e_end);
            bool paren_in =
                (oi < (Py_ssize_t)d.sidx.opens.size() &&
                 d.sidx.opens[(size_t)oi] < send) ||
                (ci < (Py_ssize_t)d.sidx.closes.size() &&
                 d.sidx.closes[(size_t)ci] < send);
            if (paren_in) {
                sentence = right_sentence(d, m);
                have_sentence = true;
                for (const Str &verb : kb->verbs) {
                    verb_index = u32_find(sentence, verb, 0,
                                          (Py_ssize_t)sentence.size());
                    if (verb_index != -1) break;
                }
            } else {
                for (size_t v = 0; v < kb->verbs.size(); v++) {
                    const vector<int64_t> &occ = d.sidx.verb_occ[v];
                    Py_ssize_t k = bisect_left(occ, e_end);
                    if (k < (Py_ssize_t)occ.size() &&
                        occ[(size_t)k] + (int64_t)kb->verbs[v].size() <= send) {
                        verb_index = occ[(size_t)k] - e_end;
                        break;
                    }
                }
            }
        }
    }
    if (verb_index != -1) {
        // professions: first person sense whose JOBS match post-verb
        vector<int32_t> professions;
        for (int64_t s : m.senses) {
            int64_t si = kb_index(kb, s);
            if (si < 0) { d.fail(); return false; }
            if (!kb->person_exact[(size_t)si]) continue;
            vector<int32_t> cand;
            for (int32_t jsid : kb->jobs[(size_t)si]) {
                Str job = kb->str(jsid);
                // search " " + job + " " in the window
                bool found = false;
                if (have_sentence) {
                    Py_ssize_t sn = (Py_ssize_t)sentence.size();
                    for (Py_ssize_t i = verb_index;
                         i + (Py_ssize_t)job.size() + 2 <= sn; i++) {
                        if (sentence[(size_t)i] == ' ' &&
                            sentence[(size_t)(i + 1 + job.size())] == ' ' &&
                            (job.empty() ||
                             memcmp(sentence.data() + i + 1, job.data(),
                                    job.size() * sizeof(Py_UCS4)) == 0)) {
                            found = true;
                            break;
                        }
                    }
                } else {
                    int64_t base = m.end + verb_index;
                    for (int64_t i = base;
                         i + (int64_t)job.size() + 2 <= send; i++) {
                        if (d.text[(size_t)i] == ' ' &&
                            d.text[(size_t)(i + 1 + job.size())] == ' ' &&
                            (job.empty() ||
                             memcmp(d.text.data() + i + 1, job.data(),
                                    job.size() * sizeof(Py_UCS4)) == 0)) {
                            found = true;
                            break;
                        }
                    }
                }
                if (found) cand.push_back(jsid);
            }
            if (!cand.empty()) { professions.swap(cand); break; }
        }
        if (!professions.empty()) {
            vector<int64_t> new_senses;
            for (int64_t s : m.senses) {
                int64_t si = kb_index(kb, s);
                if (si < 0) { d.fail(); return false; }
                if (!kb->person_exact[(size_t)si]) continue;
                Span<int32_t> jb = kb->jobs[(size_t)si];
                const int32_t empty_probe[1] = {kb->empty_sid};
                const int32_t *probe = jb.empty() ? empty_probe : jb.data();
                size_t np = jb.empty() ? 1 : jb.size();
                for (size_t i = 0; i < np; i++) {
                    bool inprof = false;
                    for (int32_t q : professions)
                        if (q == probe[i]) { inprof = true; break; }
                    if (inprof) { new_senses.push_back(s); break; }
                }
            }
            m.senses.swap(new_senses);
        }
    }

    if (m.senses.size() > 1) ordered_dedup(m.senses);
    m.candidates = m.senses;
    if (m.candidates.empty()) return true;
    if (m.candidates.size() == 1) {
        set_preferred(d, reg, mi, Pref{P_INT, m.candidates[0]});
        m.poorly_disambiguated = false;
    } else if (m.score.empty()) {
        set_preferred(d, reg, mi, Pref{P_INT, m.candidates[0]});
    }
    if (!pref_truthy(m.pref)) {  // dead in practice (resolve.py:654-659)
        // Python APPENDS to the existing lists here; reachable only with
        // empty ones (see resolve.py comment) — anything else → fallback
        if (!m.score.empty() || !m.static_score.empty()) {
            d.fail();
            return false;
        }
        for (int64_t c : m.candidates) {
            int64_t ci = kb_index(kb, c);
            double st = ci < 0 ? 0.0 : kb->score[(size_t)ci];
            m.static_score.push_back(st);
            m.score.push_back(st);
        }
        size_t best = 0;
        for (size_t i = 1; i < m.score.size(); i++)
            if (m.score[i] > m.score[best]) best = i;
        set_preferred(d, reg, mi, Pref{P_INT, m.candidates[best]});
    }
    return true;
}

// resolve.py:662-739 disambiguate_with_context (scalar form; the numpy
// batch pre-pass in resolve.py:741-817 is observably identical — its own
// docstring carries the proof)
static bool dwc(Doc &d, Context &ctx, Register &reg, int32_t mi) {
    const KBImage *kb = d.kb;
    Mention &m = d.men[(size_t)mi];
    if (m.is_coreference || m.candidates.empty()) return true;
    ctx.recompute_paragraph_offset(m.start);
    if (m.candidates.size() == 1) {
        int64_t c = m.candidates[0];
        int64_t ci = kb_index(kb, c);
        if (ci < 0) { d.fail(); return false; }
        double context_score = 0.0;
        uint8_t k = kb->ctx_kind[(size_t)ci];
        if (k == CTX_PERSON) context_score = ctx.person_percentile(d, c);
        else if (k == CTX_ORG) context_score = ctx.org_event_percentile(d, c, true);
        else if (k == CTX_EVENT) context_score = ctx.org_event_percentile(d, c, false);
        else if (k == CTX_CHAR)
            context_score = ctx.common_percentile(c, kb->ctx_char[(size_t)ci]);
        if (d.fallback) return false;
        if (context_score > 0) m.poorly_disambiguated = false;
        double st = kb->score[(size_t)ci];
        m.static_score.assign(1, st);
        m.context_score.assign(1, context_score);
        m.score.assign(1, st + context_score);
        set_preferred(d, reg, mi, Pref{P_INT, c});
        return true;
    }
    vector<double> score, static_score, context_score_l;
    bool poorly = m.poorly_disambiguated;
    for (int64_t c : m.candidates) {
        int64_t ci = kb_index(kb, c);
        if (ci < 0) { d.fail(); return false; }
        double st = kb->score[(size_t)ci];
        double context_score = 0.0;
        uint8_t k = kb->ctx_kind[(size_t)ci];
        if (k == CTX_PERSON) context_score = ctx.person_percentile(d, c);
        else if (k == CTX_ORG) context_score = ctx.org_event_percentile(d, c, true);
        else if (k == CTX_EVENT) context_score = ctx.org_event_percentile(d, c, false);
        else if (k == CTX_CHAR)
            context_score = ctx.common_percentile(c, kb->ctx_char[(size_t)ci]);
        if (d.fallback) return false;
        if (context_score > 0) poorly = false;
        static_score.push_back(st);
        context_score_l.push_back(context_score);
        score.push_back(st + context_score);
    }
    m.poorly_disambiguated = poorly;
    m.score.swap(score);
    m.static_score.swap(static_score);
    m.context_score.swap(context_score_l);
    size_t best = 0;
    for (size_t i = 1; i < m.score.size(); i++)
        if (m.score[i] > m.score[best]) best = i;
    int64_t pref = m.candidates[best];
    set_preferred(d, reg, mi, Pref{P_INT, pref});

    // explicit per-paragraph person bump (resolve.py:731-738)
    int64_t pi = kb_index(kb, pref);
    if (pi < 0) { d.fail(); return false; }
    if (kb->person_sub[(size_t)pi] && m.candidates.size() != 1) {
        Bucket &b = ctx.par[(size_t)ctx.paragraph_index].fields[FK_PERSON];
        b.cnt[kb->name_sid[(size_t)pi]] += 1;
        b.total += 1;
    }
    return true;
}

// ---------------------------------------------------------------------------
// Coreference (resolve.py:823-949)
// ---------------------------------------------------------------------------

// en location-coref: source == "There" and a copula right-context
static bool is_location_coreference(Doc &d, const Mention &m) {
    if (!(m.flags & FL_THERE)) return false;
    Py_ssize_t n = (Py_ssize_t)d.text.size();
    for (const Str &s : d.kb->there_ctx) {
        Py_ssize_t sl = (Py_ssize_t)s.size();
        if (m.end + sl <= n &&
            memcmp(d.text.data() + m.end, s.data(),
                   (size_t)sl * sizeof(Py_UCS4)) == 0)
            return true;
    }
    return false;
}

// resolve.py:830-854 resolve_pronoun_coreference
static void pronoun_coref(Doc &d, Context &ctx, Register &reg, int32_t mi) {
    Mention &m = d.men[(size_t)mi];
    if (is_location_coreference(d, m)) return;
    int64_t bop = m.begin_of_paragraph >= 0 ? m.begin_of_paragraph : 0;
    if (m.flags & FL_PRON_M) {
        if (ctx.last_unknown_gender >= 0) {
            ctx.before_last_male = ctx.last_male;
            ctx.last_male = ctx.last_unknown_gender;
            ctx.last_person = ctx.last_unknown_gender;
            ctx.last_unknown_gender = -1;
        }
        if (ctx.last_male >= 0 &&
            d.men[(size_t)ctx.last_male].start >= bop) {
            // get_preferred_entity: the antecedent itself or its Mention pref
            int32_t ant = ctx.last_male;
            const Pref &ap = d.men[(size_t)ant].pref;
            int64_t target = ap.tag == P_MEN ? ap.v : ant;
            set_preferred(d, reg, mi, Pref{P_MEN, target});
        }
    } else if (m.flags & FL_PRON_F) {
        if (ctx.last_unknown_gender >= 0) {
            ctx.before_last_female = ctx.last_female;
            ctx.last_female = ctx.last_unknown_gender;
            ctx.last_person = ctx.last_unknown_gender;
            ctx.last_unknown_gender = -1;
        }
        if (ctx.last_female >= 0 &&
            d.men[(size_t)ctx.last_female].start >= bop) {
            int32_t ant = ctx.last_female;
            const Pref &ap = d.men[(size_t)ant].pref;
            int64_t target = ap.tag == P_MEN ? ap.v : ant;
            set_preferred(d, reg, mi, Pref{P_MEN, target});
        }
    }
}

// resolve.py:857-862 — smallest positive start distance, or -1
static int32_t nearest_predecessor(Doc &d, const Mention &m,
                                   const vector<int32_t> &cands) {
    int32_t best = -1;
    int64_t best_dist = 0;
    for (int32_t c : cands) {
        int64_t dist = (int64_t)m.start - d.men[(size_t)c].start;
        if (dist > 0 && (best < 0 || dist < best_dist)) {
            best = c;
            best_dist = dist;
        }
    }
    return best;
}

// resolve.py:865-868 — min (|Δstart|, start), stable (first minimal)
static Pref nearest_entity_sense(Doc &d, const Mention &m,
                                 const vector<int32_t> &cands) {
    int32_t best = cands[0];
    int64_t bd = llabs((int64_t)m.start - d.men[(size_t)best].start);
    int64_t bs = d.men[(size_t)best].start;
    for (size_t i = 1; i < cands.size(); i++) {
        int32_t c = cands[i];
        int64_t dd = llabs((int64_t)m.start - d.men[(size_t)c].start);
        int64_t ss = d.men[(size_t)c].start;
        if (dd < bd || (dd == bd && ss < bs)) { best = c; bd = dd; bs = ss; }
    }
    return d.men[(size_t)best].pref;
}

// resolve.py:871-897 fix_poor_disambiguation
static bool fix_poor(Doc &d, Register &reg, const vector<int32_t> &entities) {
    // strong keyed by source content (== source_id) / by raw sense
    std::unordered_map<int32_t, vector<int32_t>> strong;       // srcid → ents
    std::unordered_map<int64_t, vector<int32_t>> strong_by_id; // sense → ents
    vector<int32_t> ents;
    for (int32_t mi : entities)
        if (!d.men[(size_t)mi].is_coreference) ents.push_back(mi);
    for (int32_t mi : ents) {
        Mention &e = d.men[(size_t)mi];
        if (e.poorly_disambiguated) continue;
        int32_t ent;
        int64_t sense_key;
        if (e.pref.tag == P_MEN) {
            ent = (int32_t)e.pref.v;
            const Pref &p2 = d.men[(size_t)ent].pref;
            if (p2.tag == P_MEN) { d.fail(); return false; }  // 2-level chain:
            // Python would key the dict by a Mention object — not supported
            sense_key = p2.tag == P_NONE ? SENSE_NONE : p2.v;
        } else {
            ent = mi;
            sense_key = e.pref.tag == P_NONE ? SENSE_NONE : e.pref.v;
        }
        strong[e.source_id].push_back(ent);
        strong_by_id[sense_key].push_back(ent);
    }
    for (int32_t mi : ents) {
        Mention &e = d.men[(size_t)mi];
        if (!e.poorly_disambiguated) continue;
        vector<int32_t> candidates;
        for (int64_t s : e.senses) {
            auto it = strong_by_id.find(s);
            if (it != strong_by_id.end())
                candidates.insert(candidates.end(), it->second.begin(),
                                  it->second.end());
        }
        if (!candidates.empty()) {
            set_preferred(d, reg, mi, nearest_entity_sense(d, e, candidates));
            e.poorly_disambiguated = false;
        } else {
            auto it = strong.find(e.source_id);
            if (it != strong.end()) {
                set_preferred(d, reg, mi,
                              nearest_entity_sense(d, e, it->second));
                e.poorly_disambiguated = false;
            }
        }
    }
    return true;
}

// resolve.py:900-949 resolve_coreferences (print_all always False here —
// the C kernel serves mode="default" only)
static bool resolve_corefs(Doc &d, Context &ctx, Register &reg,
                           const vector<int32_t> &entities) {
    const KBImage *kb = d.kb;
    for (int32_t mi : entities) {
        Mention &e = d.men[(size_t)mi];
        if (!e.is_coreference && pref_truthy(e.pref)) {
            Pref p = e.pref;
            if (p.tag == P_MEN) p = d.men[(size_t)p.v].pref;
            if (p.tag == P_INT && p.v >= 1 && p.v <= kb->n &&
                kb->person_sub[(size_t)p.v])
                ctx.people_in_text[(size_t)p.v] = 1;
            else if (p.tag == P_INT && p.v > kb->n) { d.fail(); return false; }
        }
    }
    for (int32_t mi : entities) {
        Mention &e = d.men[(size_t)mi];
        if (e.is_coreference) {
            // filter pms to people_in_text
            vector<int64_t> pms2;
            for (int64_t s : e.pms)
                if (s >= 1 && s <= kb->n && ctx.people_in_text[(size_t)s])
                    pms2.push_back(s);
            e.pms.swap(pms2);
            if (!e.pms.empty()) {
                // min by (-score, id): pms sorted ascending by id, so scan
                int64_t sense = e.pms[0];
                double best_sc = kb->score[(size_t)sense];
                for (size_t i = 1; i < e.pms.size(); i++) {
                    double sc = kb->score[(size_t)e.pms[i]];
                    if (sc > best_sc) { sense = e.pms[i]; best_sc = sc; }
                }
                vector<int32_t> candidates = reg.mentions_of(sense);
                if (!(e.flags & FL_THE_LOWER)) {
                    const U32 &lo = e.dl_text();
                    vector<int32_t> kept;
                    for (int32_t c : candidates)
                        if (u32_contains(d.men[(size_t)c].dl_text(), lo))
                            kept.push_back(c);
                    candidates.swap(kept);
                }
                int32_t ant = nearest_predecessor(d, e, candidates);
                if (ant >= 0) {
                    set_preferred(d, reg, mi, Pref{P_MEN, ant});
                } else if (!e.senses.empty()) {
                    e.is_coreference = false;
                    e.pms.clear();
                    if (!dwoc(d, reg, mi)) return false;
                    if (!dwc(d, ctx, reg, mi)) return false;
                }
            } else if (e.flags & FL_PRON_ANY) {
                pronoun_coref(d, ctx, reg, mi);
            } else if (!e.senses.empty()) {
                e.is_coreference = false;
                if (!dwoc(d, reg, mi)) return false;
                if (!dwc(d, ctx, reg, mi)) return false;
            }
        }
        if (pref_truthy(d.men[(size_t)mi].pref)) {
            ctx.update(d, mi);
            if (d.fallback) return false;
        }
    }
    return true;
}

// ---------------------------------------------------------------------------
// Relational filters (resolve.py:980-1155)
// ---------------------------------------------------------------------------

// resolve.py:980-999 — first-come occupancy over inclusive [start, end]
static void remove_shorter(Doc &d, vector<int32_t> &order) {
    vector<int64_t> kept_starts, kept_ends;
    vector<int32_t> out;
    for (int32_t mi : order) {
        const Mention &e = d.men[(size_t)mi];
        int64_t s = e.start, t = e.end;
        Py_ssize_t idx = bisect_right(kept_starts, t);
        if (idx > 0 && kept_ends[(size_t)idx - 1] >= s) continue;
        kept_starts.insert(kept_starts.begin() + idx, s);
        kept_ends.insert(kept_ends.begin() + idx, t);
        out.push_back(mi);
    }
    order.swap(out);
}

// clean text + proper-noun regex spans come from a Python callback,
// invoked only when the overlap filter actually needs them (mirrors
// resolve.py:1052-1057's early outs — same regex cost profile)
static bool ensure_pnouns(Doc &d) {
    if (d.pnouns_ready) return true;
    d.pnouns_ready = true;
    PyObject *res = PyObject_CallNoArgs(d.lazy_cb);
    if (!res) return false;  // Python error propagates
    PyObject *clean_o = PyTuple_GET_ITEM(res, 0);  // None: clean == text
    d.clean = clean_o != Py_None ? to_u32(clean_o) : d.text;
    PyObject *pl = PyTuple_GET_ITEM(res, 1);
    if (pl != Py_None) {
        Py_ssize_t np = PyList_GET_SIZE(pl);
        d.pnouns.resize((size_t)np);
        for (Py_ssize_t i = 0; i < np; i++) {
            PyObject *t = PyList_GET_ITEM(pl, i);
            d.pnouns[(size_t)i] = {
                PyLong_AsLongLong(PyTuple_GET_ITEM(t, 0)),
                PyLong_AsLongLong(PyTuple_GET_ITEM(t, 1))};
        }
    }
    Py_DECREF(res);
    return !PyErr_Occurred();
}

// resolve.py:1047-1133 scalar path (the numpy variant is pinned equivalent
// by resolve.py's own differential property test)
static bool overlap_filter(Doc &d, vector<int32_t> &entities) {
    if (entities.empty()) return true;
    if (!ensure_pnouns(d)) return false;
    const auto &proper = d.pnouns;
    if (proper.empty()) return true;
    const U32 &clean = d.clean;
    // sorted disjoint entity spans
    vector<std::pair<int64_t, int64_t>> iv;
    iv.reserve(entities.size());
    for (int32_t mi : entities)
        iv.emplace_back(d.men[(size_t)mi].start, d.men[(size_t)mi].end);
    std::sort(iv.begin(), iv.end());
    Py_ssize_t n_iv = (Py_ssize_t)iv.size();

    auto gaps_of = [&](int64_t s, int64_t e,
                       vector<std::pair<int64_t, int64_t>> &res) {
        res.clear();
        Py_ssize_t i = std::lower_bound(iv.begin(), iv.end(),
                                        std::make_pair(s, (int64_t)-1)) -
                       iv.begin();
        if (i > 0 && iv[(size_t)i - 1].second > s) i--;
        int64_t cur = s;
        while (cur < e) {
            if (i >= n_iv || iv[(size_t)i].first >= e) {
                res.emplace_back(cur, e);
                break;
            }
            int64_t es = iv[(size_t)i].first, ee = iv[(size_t)i].second;
            if (es > cur) res.emplace_back(cur, std::min(es, e));
            if (ee >= e) break;
            cur = std::max(cur, ee);
            i++;
        }
    };

    vector<vector<std::pair<int64_t, int64_t>>> pn_gaps(proper.size());
    std::unordered_set<int64_t> spaces_in_diff;
    for (size_t p = 0; p < proper.size(); p++) {
        gaps_of(proper[p].first, proper[p].second, pn_gaps[p]);
        for (auto &g : pn_gaps[p])
            for (int64_t o = g.first; o < g.second; o++)
                if (clean[(size_t)o] == ' ') spaces_in_diff.insert(o);
    }
    std::unordered_set<int64_t> solitary;
    for (int64_t o : spaces_in_diff)
        if (!spaces_in_diff.count(o - 1) && !spaces_in_diff.count(o + 1))
            solitary.insert(o);
    vector<uint8_t> pn_keep(proper.size());
    for (size_t p = 0; p < proper.size(); p++) {
        bool has_space = false, has_apos = false;
        for (auto &g : pn_gaps[p])
            for (int64_t o = g.first; o < g.second; o++) {
                Py_UCS4 c = clean[(size_t)o];
                if (c == ' ' && !solitary.count(o)) has_space = true;
                else if (c == '\'') has_apos = true;
            }
        pn_keep[p] = (!has_space) || has_apos;
    }
    vector<int64_t> pn_starts;
    pn_starts.reserve(proper.size());
    for (auto &pr : proper) pn_starts.push_back(pr.first);
    vector<int32_t> out;
    for (int32_t mi : entities) {
        const Mention &e = d.men[(size_t)mi];
        Py_ssize_t i = bisect_right(pn_starts, e.start);
        if (i > 0 && proper[(size_t)i - 1].second > e.start) i--;
        bool overlapped = false, keep = false;
        while (i < (Py_ssize_t)proper.size() && proper[(size_t)i].first < e.end) {
            overlapped = true;
            if (pn_keep[(size_t)i]) { keep = true; break; }
            i++;
        }
        if (!overlapped || keep) out.push_back(mi);
    }
    entities.swap(out);
    return true;
}

// resolve.py:1136-1155 remove_nearby_entities
static void remove_nearby(Doc &d, vector<int32_t> &entities) {
    const KBImage *kb = d.kb;
    for (size_t i = 1; i < entities.size(); i++) {
        Mention &ent = d.men[(size_t)entities[i]];
        Mention &bef = d.men[(size_t)entities[i - 1]];
        if (!pref_truthy(ent.pref) || (ent.flags & FL_PRON_ANY)) continue;
        if (!pref_truthy(bef.pref) || (bef.flags & FL_PRON_ANY)) continue;
        // ^[ ]+$ on text[bef.end:ent.start]
        if (ent.start <= bef.end) continue;
        bool all_spaces = true;
        for (int64_t o = bef.end; o < ent.start; o++)
            if (d.text[(size_t)o] != ' ') { all_spaces = false; break; }
        if (!all_spaces) continue;
        // get_preferred_sense: one hop through a Mention pref
        auto psense = [&](Mention &m) -> int64_t {
            Pref p = m.pref;
            if (p.tag == P_MEN) p = d.men[(size_t)p.v].pref;
            return p.tag == P_INT ? p.v : SENSE_NONE;  // None → type ""
        };
        int64_t s1 = psense(ent), s2 = psense(bef);
        auto texact = [&](int64_t s) -> uint8_t {
            // get_ent_type (kb.py:343-352): None or line < 1 → ""; out of
            // range → IndexError caught → "" — never a negative-index wrap
            if (s == SENSE_NONE || s < 1 || s > kb->n) return 0;
            return kb->type_exact[(size_t)s];
        };
        uint8_t t1 = texact(s1);
        if (d.fallback) return;
        if (t1 == 0) continue;  // not "person"/"location"
        uint8_t t2 = texact(s2);
        if (d.fallback) return;
        if (t2 == t1) {
            ent.next_to_same_type = true;
            bef.next_to_same_type = true;
        }
    }
    vector<int32_t> out;
    for (int32_t mi : entities)
        if (!d.men[(size_t)mi].next_to_same_type) out.push_back(mi);
    entities.swap(out);
}

// ---------------------------------------------------------------------------
// run_stages: the per-document driver (resolve.py:1356-1507, mode=default)
// ---------------------------------------------------------------------------

static PyObject *s_kb, *s_coref, *s_date, *s_interval;  // interned kinds

static bool parse_dates(Doc &d, PyObject *dates) {
    Py_ssize_t n = PyList_GET_SIZE(dates);
    d.dates.resize((size_t)n);
    for (Py_ssize_t i = 0; i < n; i++) {
        PyObject *t = PyList_GET_ITEM(dates, i);
        if (!PyTuple_Check(t) || PyTuple_GET_SIZE(t) != 8) {
            PyErr_SetString(PyExc_ValueError, "date tuple arity != 8");
            return false;
        }
        DateM &dm = d.dates[(size_t)i];
        dm.start = (int32_t)PyLong_AsLong(PyTuple_GET_ITEM(t, 0));
        dm.end = (int32_t)PyLong_AsLong(PyTuple_GET_ITEM(t, 1));
        dm.source = PyTuple_GET_ITEM(t, 2);
        dm.iso_out = PyTuple_GET_ITEM(t, 3);
        dm.conf = (int32_t)PyLong_AsLong(PyTuple_GET_ITEM(t, 4));
        dm.is_interval = (int8_t)PyLong_AsLong(PyTuple_GET_ITEM(t, 5));
        dm.swz = to_u32(PyTuple_GET_ITEM(t, 6));
        PyObject *swz_to = PyTuple_GET_ITEM(t, 7);
        dm.has_swz_to = swz_to != Py_None;
        if (dm.has_swz_to) dm.swz_to = to_u32(swz_to);
    }
    return !PyErr_Occurred();
}

static PyObject *run_stages(Doc &d) {
    const KBImage *kb = d.kb;
    (void)kb;
    Register reg(d.men.size());

    // stage 1: global senses + pms intersection (resolve.py:1385-1401)
    std::unordered_set<int64_t> global_senses;
    for (const Mention &m : d.men)
        for (int64_t s : m.senses) global_senses.insert(s);
    for (Mention &m : d.men) {
        if (m.pms.empty()) continue;
        vector<int64_t> kept;
        for (int64_t s : m.pms)
            if (global_senses.count(s)) kept.push_back(s);
        m.pms.swap(kept);
    }

    // stage 2: remove_shorter + nationality/entity split (resolve.py:1403-1411)
    vector<int32_t> figa;
    figa.reserve(d.men.size());
    for (int32_t i = 0; i < (int32_t)d.men.size(); i++) figa.push_back(i);
    remove_shorter(d, figa);
    vector<int32_t> nationalities, entities;
    for (int32_t mi : figa) {
        Mention &e = d.men[(size_t)mi];
        if (e.is_nationality) nationalities.push_back(mi);
        else if (!e.senses.empty() || !e.pms.empty() ||
                 (e.flags & FL_PRON_ANY))
            entities.push_back(mi);
    }

    // stage 3: date-entity overlap filter (resolve.py:1413-1425)
    vector<std::pair<int64_t, int64_t>> iv;
    iv.reserve(entities.size());
    for (int32_t mi : entities)
        iv.emplace_back(d.men[(size_t)mi].start, d.men[(size_t)mi].end);
    std::sort(iv.begin(), iv.end());
    vector<int64_t> iv_starts;
    for (auto &p : iv) iv_starts.push_back(p.first);
    vector<int32_t> kept_dates;
    for (int32_t di = 0; di < (int32_t)d.dates.size(); di++) {
        const DateM &dm = d.dates[(size_t)di];
        Py_ssize_t idx = bisect_right(iv_starts, dm.end);
        if (!(idx > 0 && iv[(size_t)idx - 1].second >= dm.start))
            kept_dates.push_back(di);
    }

    // stage 4: merge entities_and_dates, dates-first on start ties
    // (resolve.py:1427-1434 — [dates] + [entities] through a stable sort)
    vector<ED> ed;
    ed.reserve(kept_dates.size() + entities.size());
    for (int32_t di : kept_dates)
        ed.push_back(ED{1, di, (int64_t)d.dates[(size_t)di].start});
    for (int32_t mi : entities)
        ed.push_back(ED{0, mi, (int64_t)d.men[(size_t)mi].start});
    std::stable_sort(ed.begin(), ed.end(),
                     [](const ED &a, const ED &b) { return a.start < b.start; });

    // stage 5: disambiguate without context (resolve.py:1436-1438)
    for (int32_t mi : entities)
        if (!dwoc(d, reg, mi)) goto fallback;

    {
        // stage 6: context pass 1 + scalar dwc sweep + fix_poor
        Context ctx1;
        if (!ctx1.init(d, ed, nationalities)) goto fallback;
        for (int32_t mi : entities)
            if (!dwc(d, ctx1, reg, mi)) goto fallback;
        if (!fix_poor(d, reg, entities)) goto fallback;

        // stage 7: fresh context + two coref passes (resolve.py:1444-1453)
        Context ctx2;
        if (!ctx2.init(d, ed, nationalities)) goto fallback;
        vector<int32_t> name_corefs;
        for (int32_t mi : entities) {
            const Mention &e = d.men[(size_t)mi];
            if (!(e.flags & FL_PRON_ANY) && !(e.flags & FL_THE_LOWER))
                name_corefs.push_back(mi);
        }
        if (!resolve_corefs(d, ctx2, reg, name_corefs)) goto fallback;
        if (!resolve_corefs(d, ctx2, reg, entities)) goto fallback;
    }

    // stage 8: overlap + nearby filters (resolve.py:1455-1460)
    if (!overlap_filter(d, entities)) return NULL;
    remove_nearby(d, entities);
    if (d.fallback) goto fallback;

    {
        vector<uint8_t> kept(d.men.size(), 0);
        for (int32_t mi : entities) kept[(size_t)mi] = 1;

        // stage 9: final default-mode filter + output (resolve.py:1470-1507)
        PyObject *out = PyList_New(0);
        if (!out) return NULL;
        for (const ED &e : ed) {
            PyObject *row = NULL;
            int64_t start, end;
            if (e.is_date) {
                const DateM &dm = d.dates[(size_t)e.idx];
                start = dm.start;
                end = dm.end;
                Py_ssize_t pi = bisect_right(d.paragraphs, start) - 1;
                row = Py_BuildValue(
                    "(llLOOOOi)", (long)start, (long)end,
                    (long long)d.paragraphs[(size_t)pi],
                    dm.is_interval ? s_interval : s_date, dm.source, Py_None,
                    dm.iso_out, (int)dm.conf);
            } else {
                if (!kept[(size_t)e.idx]) continue;
                Mention &m = d.men[(size_t)e.idx];
                if (!pref_truthy(m.pref)) continue;  // default-mode filter
                start = m.start;
                end = m.end;
                Py_ssize_t pi = bisect_right(d.paragraphs, start) - 1;
                // text slice with \n→' ' and \r dropped
                U32 buf;
                buf.reserve((size_t)(end - start));
                for (int64_t o = start; o < end; o++) {
                    Py_UCS4 c = d.text[(size_t)o];
                    if (c == '\n') buf.push_back(' ');
                    else if (c != '\r') buf.push_back(c);
                }
                PyObject *txt = PyUnicode_FromKindAndData(
                    PyUnicode_4BYTE_KIND, buf.data(), (Py_ssize_t)buf.size());
                if (!txt) { Py_DECREF(out); return NULL; }
                // get_preferred_sense: one hop through a Mention pref
                Pref p = m.pref;
                if (p.tag == P_MEN) p = d.men[(size_t)p.v].pref;
                PyObject *sense;
                if (p.tag == P_INT) sense = PyLong_FromLongLong(p.v);
                else { sense = Py_None; Py_INCREF(Py_None); }
                row = Py_BuildValue(
                    "(llLONNOO)", (long)start, (long)end,
                    (long long)d.paragraphs[(size_t)pi],
                    m.is_coreference ? s_coref : s_kb, txt, sense, Py_None,
                    Py_None);
            }
            if (!row) { Py_DECREF(out); return NULL; }
            if (PyList_Append(out, row) < 0) {
                Py_DECREF(row);
                Py_DECREF(out);
                return NULL;
            }
            Py_DECREF(row);
        }
        return out;
    }

fallback:
    if (PyErr_Occurred()) return NULL;  // real error beats Fallback
    PyErr_SetString(FallbackError, "unsupported state; use the Python path");
    return NULL;
}

// ---------------------------------------------------------------------------
// Fused scan: GazetteerAutomaton.scan twin (automaton.py:160-215) + the
// per-match pre-pass, so one C call covers scan_text -> final mention rows
// ---------------------------------------------------------------------------

static inline bool is_ascii_punct(Py_UCS4 c) {
    // string.punctuation: 33-47, 58-64, 91-96, 123-126
    return (c >= 33 && c <= 47) || (c >= 58 && c <= 64) ||
           (c >= 91 && c <= 96) || (c >= 123 && c <= 126);
}

// _TOKEN_RE (automaton.py:62-67): URI | non-delimiter run | single punct,
// tried in that order at each position, case-sensitive
static void tokenize_spans(const U32 &t,
                           vector<std::pair<int64_t, int64_t>> &out) {
    int64_t n = (int64_t)t.size();
    int64_t i = 0;
    while (i < n) {
        Py_UCS4 c = t[(size_t)i];
        if (c == 'h' && i + 4 <= n - 1 && t[(size_t)i + 1] == 't' &&
            t[(size_t)i + 2] == 't' && t[(size_t)i + 3] == 'p') {
            int64_t k = i + 4;
            if (k < n && t[(size_t)k] == 's') k++;
            if (k < n && t[(size_t)k] == ':') {
                k++;  // https?: matched; swallow [^\x00-\x20\x7f]*
                while (k < n && t[(size_t)k] > 0x20 && t[(size_t)k] != 0x7f)
                    k++;
                out.emplace_back(i, k);
                i = k;
                continue;
            }
        }
        bool word_char = c > 0x20 && c != 0x7f && !is_ascii_punct(c);
        if (word_char) {
            int64_t k = i + 1;
            while (k < n) {
                Py_UCS4 d2 = t[(size_t)k];
                if (!(d2 > 0x20 && d2 != 0x7f && !is_ascii_punct(d2))) break;
                k++;
            }
            out.emplace_back(i, k);
            i = k;
        } else if (is_ascii_punct(c)) {
            out.emplace_back(i, i + 1);
            i++;
        } else {
            i++;  // space/control: no token starts here
        }
    }
}

// fragment → (source, dl, flags, is_nat_form, pms) with a per-image cache.
// ASCII fragments without NCRs are handled fully in C (deaccent is the
// identity, str.lower == ASCII tolower); everything else goes through the
// Python helper once per distinct fragment.  Returns null on Python error.
static const FragInfo *frag_info(KBImage *kb, const Py_UCS4 *frag,
                                 Py_ssize_t flen, PyObject *frag_cb) {
    static std::u32string key;  // scratch (single-threaded under the GIL)
    key.assign(frag, frag + flen);
    auto it = kb->frag_cache.find(key);
    if (it != kb->frag_cache.end()) return &it->second;

    FragInfo fi;
    bool ascii_ok = true;
    bool has_amp_hash = false;
    for (Py_ssize_t i = 0; i < flen; i++) {
        if (frag[i] >= 128) ascii_ok = false;
        if (frag[i] == '&' && i + 1 < flen && frag[i + 1] == '#')
            has_amp_hash = true;
    }
    if (ascii_ok && !has_amp_hash) {
        fi.source.assign(frag, frag + flen);
        fi.dl = fi.source;
        for (auto &c : fi.dl)
            if (c >= 'A' && c <= 'Z') c += 32;
        fi.flags = 0;
        int32_t pe = kb->find(kb->pron, fi.dl.data(), fi.dl.size());
        if (pe >= 0) fi.flags |= kb->pron_mask.p[pe];
        if (fi.dl.size() >= 4 && fi.dl[0] == 't' && fi.dl[1] == 'h' &&
            fi.dl[2] == 'e' && fi.dl[3] == ' ')
            fi.flags |= FL_THE_LOWER;
        if (flen >= 4 && frag[0] == 'T' && frag[1] == 'h' && frag[2] == 'e' &&
            frag[3] == ' ')
            fi.flags |= FL_THE_TITLE;
        static const Py_UCS4 THERE[] = {'T', 'h', 'e', 'r', 'e'};
        if (flen == 5 && memcmp(frag, THERE, sizeof(THERE)) == 0)
            fi.flags |= FL_THERE;
    } else {
        PyObject *frag_s = PyUnicode_FromKindAndData(PyUnicode_4BYTE_KIND,
                                                     frag, flen);
        if (!frag_s) return NULL;
        PyObject *res = PyObject_CallFunctionObjArgs(frag_cb, frag_s, NULL);
        Py_DECREF(frag_s);
        if (!res) return NULL;
        fi.source = to_u32(PyTuple_GET_ITEM(res, 0));
        fi.dl = to_u32(PyTuple_GET_ITEM(res, 1));
        fi.flags = (int32_t)PyLong_AsLong(PyTuple_GET_ITEM(res, 2));
        Py_DECREF(res);
        if (PyErr_Occurred()) return NULL;
    }
    fi.is_nat_form =
        kb->find(kb->nat_forms, fi.source.data(), fi.source.size()) >= 0;
    int32_t ne = kb->find(kb->name_dict, fi.dl.data(), fi.dl.size());
    fi.pms = ne < 0 ? Span<int64_t>{nullptr, 0}
                    : Span<int64_t>{kb->nd_ids.p + kb->nd_off.p[ne],
                                    kb->nd_off.p[ne + 1] - kb->nd_off.p[ne]};
    auto ins = kb->frag_cache.emplace(key, std::move(fi));
    return &ins.first->second;
}

// scan_resolve_doc(image, text, scan_text|None, dates, paragraphs,
//                  lazy_cb, frag_cb) -> list[tuple]
static PyObject *scan_resolve_doc(PyObject *self, PyObject *args) {
    PyObject *icap, *text_o, *scan_o, *dates, *paragraphs, *lazy_cb, *frag_cb;
    if (!PyArg_ParseTuple(args, "OO!OO!O!OO", &icap, &PyUnicode_Type,
                          &text_o, &scan_o, &PyList_Type, &dates,
                          &PyList_Type, &paragraphs, &lazy_cb, &frag_cb))
        return NULL;
    KBImage *kb = (KBImage *)PyCapsule_GetPointer(icap, "ner_spark.kbimage");
    if (!kb) return NULL;
    // bound the fragment cache BETWEEN documents only — mention structs
    // hold pointers into it for the duration of one call
    if (kb->frag_cache.size() > (1u << 20)) kb->frag_cache.clear();

    Doc d;
    d.kb = kb;
    d.lazy_cb = lazy_cb;
    d.text = to_u32(text_o);
    U32 scan_buf;
    const U32 *stp = &d.text;
    if (scan_o != Py_None) {
        scan_buf = to_u32(scan_o);
        stp = &scan_buf;
    }
    const U32 &st = *stp;
    if (!parse_dates(d, dates)) return NULL;
    Py_ssize_t npar = PyList_GET_SIZE(paragraphs);
    d.paragraphs.resize((size_t)npar);
    for (Py_ssize_t i = 0; i < npar; i++)
        d.paragraphs[(size_t)i] =
            PyLong_AsLongLong(PyList_GET_ITEM(paragraphs, i));
    if (PyErr_Occurred()) return NULL;

    // --- scan (automaton.py:160-215: longest match, non-overlapping,
    //     lazy separators, strong \n/\r delimiters) as a walk of the
    //     word-id trie: a word no key uses has no id and ends the walk ---
    vector<std::pair<int64_t, int64_t>> spans;
    tokenize_spans(st, spans);
    Py_ssize_t nw = (Py_ssize_t)spans.size();
    auto word_id = [&](Py_ssize_t k) {
        return kb->find(kb->words, st.data() + spans[(size_t)k].first,
                        (size_t)(spans[(size_t)k].second -
                                 spans[(size_t)k].first));
    };
    std::unordered_map<std::u32string, int32_t> src_intern;
    Py_ssize_t i = 0;
    while (i < nw) {
        int32_t wid = word_id(i);
        int32_t state = wid < 0 ? -1 : kb->step(0, 0, wid);
        if (state < 0) { i++; continue; }
        Py_ssize_t j = i;
        Py_ssize_t best_j = -1;
        int32_t best_term = -1;
        for (;;) {
            int32_t term = kb->s_term.p[state];
            if (term >= 0) {
                best_j = j;
                best_term = term;
            }
            if (j + 1 >= nw) break;  // EOF acts as a strong delimiter
            int64_t gap_s = spans[(size_t)j].second;
            int64_t gap_e = spans[(size_t)j + 1].first;
            int sep = 0;
            if (gap_s != gap_e) {
                // strong delimiter = newline as the FIRST delimiter char
                // after the word (figa_cedar.tpp:1005-1012); later gap
                // chars load as empty words and never break the chain
                Py_UCS4 gc = st[(size_t)gap_s];
                if (gc == '\n' || gc == '\r') break;
                sep = 1;
            }
            wid = word_id(j + 1);
            state = wid < 0 ? -1 : kb->step(state, sep, wid);
            if (state < 0) break;
            j++;
        }
        if (best_j >= 0) {
            int64_t start = spans[(size_t)i].first;
            int64_t end = spans[(size_t)best_j].second;
            const FragInfo *fi =
                frag_info(kb, st.data() + start, end - start, frag_cb);
            if (!fi) return NULL;
            d.men.emplace_back();
            Mention &m = d.men.back();
            m.start = (int32_t)start;
            m.end = (int32_t)end;
            m.srcp = &fi->source;
            m.dlp = &fi->dl;
            // senses: ordered dedup of nonzero ids (resolve.py:111-116)
            Span<int64_t> ids{kb->term_ids.p + kb->term_off.p[best_term],
                              kb->term_off.p[best_term + 1] -
                                  kb->term_off.p[best_term]};
            bool has_sense = false;
            if (ids.size() == 1) {
                if (ids.p[0] != 0) {
                    m.senses.push_back(ids.p[0]);
                    has_sense = true;
                }
            } else {
                for (int64_t v : ids)
                    if (v != 0) m.senses.push_back(v);
                ordered_dedup(m.senses);
                has_sense = !m.senses.empty();
            }
            m.flags = fi->flags;
            if (!has_sense && fi->is_nat_form) m.flags |= FL_IS_NAT;
            m.is_nationality = (m.flags & FL_IS_NAT) != 0;
            m.pms.assign(fi->pms.begin(), fi->pms.end());
            static std::u32string sk;
            sk.assign(fi->source.begin(), fi->source.end());
            auto si = src_intern.emplace(sk, (int32_t)src_intern.size());
            m.source_id = si.first->second;
            i = best_j + 1;  // consume matched words
        } else {
            i++;
        }
    }
    return run_stages(d);
}

// ---------------------------------------------------------------------------
// module
// ---------------------------------------------------------------------------

static PyMethodDef Methods[] = {
    {"wrap_image", wrap_image, METH_O,
     "wrap_image(buffer) -> capsule — check a ckernel.kb_image buffer once "
     "and read it in place; ValueError on a bad image"},
    {"scan_resolve_doc", scan_resolve_doc, METH_VARARGS,
     "scan_resolve_doc(image, text, scan_text, dates, paragraphs, lazy_cb,"
     " frag_cb) -> list[tuple]"},
    {NULL, NULL, 0, NULL}};

static struct PyModuleDef moduledef = {
    PyModuleDef_HEAD_INIT, "_resolve_ck",
    "Compiled resolve kernel (see ner_spark/semantics/_resolve_kernel.cpp)",
    -1, Methods};

PyMODINIT_FUNC PyInit__resolve_ck(void) {
    PyObject *m = PyModule_Create(&moduledef);
    if (!m) return NULL;
    FallbackError = PyErr_NewException("_resolve_ck.Fallback", NULL, NULL);
    Py_INCREF(FallbackError);
    PyModule_AddObject(m, "Fallback", FallbackError);
    PyModule_AddIntConstant(m, "IMAGE_VERSION", IMAGE_VERSION);
    s_kb = PyUnicode_InternFromString("kb");
    s_coref = PyUnicode_InternFromString("coref");
    s_date = PyUnicode_InternFromString("date");
    s_interval = PyUnicode_InternFromString("interval");
    return m;
}
