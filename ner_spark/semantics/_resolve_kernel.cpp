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
 *     matches with pre-rendered ISO strings, paragraph offsets, and one
 *     callback, frag_cb (source/deaccent-lower/pronoun flags of a non-ASCII
 *     or NCR fragment, cached per KB image, so called once per distinct
 *     fragment) — plus the KB image (ckernel.kb_image): the KB columns,
 *     lookup-table keys and word-id trie as one flat buffer, built once on
 *     the driver, checked once by wrap_image and read in place.
 *   C builds the probe tables over the image's key lists when it wraps it.
 *   C owns the scan and the sequential state machine: Mention/Register/
 *     Context, disambiguation, coreference, the nearby filter, output
 *     rows.
 *
 * The kernel is total on that surface: it resolves every document and
 * never hands one back to Python.  wrap_image bounds every row id in the
 * image (term_ids in [0, n], nd_ids in [1, n]), so every sense, candidate
 * and partial-match id a stage reads is a KB row and the stages index the
 * row arrays with it directly; senses and partial matches are never 0
 * (the scan drops 0, nd_ids start at 1), so every preferred sense a stage
 * sets is truthy.
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
// on the driver, checked once here and then read in place; the probe tables
// over its key lists are built here, the one place that hashes a key
// ---------------------------------------------------------------------------

// context-dispatch kinds — MUST match KBBundle.CTX_* (kb.py)
enum { CTX_ZERO = 0, CTX_PERSON = 1, CTX_DATED = 2, CTX_CHAR = 3 };

#define IMAGE_VERSION 4  // ckernel.IMAGE_VERSION
static const char IMAGE_MAGIC[8] = {'N', 'E', 'R', 'K', 'B', 'I', 'M', 'G'};

// section order — MUST match ckernel._SECTIONS
enum {
    S_META, S_STR_OFF, S_STR_BLOB, S_SCORE,
    S_NAME_SID, S_COUNTRY_SID, S_START_SID, S_END_SID, S_TYPE_SID,
    S_CTX_CHAR,
    S_GENDER, S_PERSON_FLAG, S_ARTIST, S_GROUP, S_PERSON_SUB, S_LOC_SUB,
    S_GEO_SUB, S_TYPE_EXACT, S_CTX_KIND,
    S_JOBS_OFF, S_JOBS, S_ROLES_OFF, S_ROLES, S_NATS_OFF, S_NATS,
    S_PDATES_OFF, S_PDATES,
    S_VERBS, S_THERE_CTX,
    S_ND_KEY, S_ND_OFF, S_ND_IDS,
    S_NATF_KEY,
    S_PRON_KEY, S_PRON_MASK,
    S_W_KEY,
    S_T_KEYS,
    S_TERM_STATE, S_TERM_OFF, S_TERM_IDS,
    S_COUNT
};
static const uint8_t SECTION_ELEM[S_COUNT] = {
    8, 4, 4, 8,
    4, 4, 4, 4, 4,
    4,
    1, 1, 1, 1, 1, 1, 1, 1, 1,
    4, 4, 4, 4, 4, 4,
    4, 4,
    4, 4,
    4, 4, 8,
    4,
    4, 4,
    4,
    8,
    4, 4, 8,
};
enum { META_N_ROWS, META_EMPTY_SID, META_COUNT };

// the probe tables' hashes: FNV-1a over code points, folded, for strings;
// the splitmix64 finalizer for trie transitions
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

// open-addressing string table, built by load_image: slots hold an entry
// index (-1 = empty), an entry's key is a strtab id
struct StrTable {
    vector<int32_t> slots;  // power-of-two capacity, load < 0.5
    Span<int32_t> key;
};

// a linear-probing table's capacity for n keys: a power of two, load < 0.5
static size_t probe_capacity(size_t n) {
    size_t cap = 8;
    while (cap <= 2 * n) cap <<= 1;
    return cap;
}

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
    const int32_t *name_sid, *country_sid, *start_sid, *end_sid, *type_sid;
    const uint32_t *ctx_char;     // codepoint (0 when none)
    const uint8_t *gender;        // 0 none / 1 M / 2 F
    const uint8_t *person_flag;   // person_flag_arr (exact-type tuple)
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
    // fragment tables (the scan's name_dict, nationality and pronoun reads)
    StrTable name_dict;           // dl → ids (nd_off/nd_ids)
    Span<uint32_t> nd_off;
    Span<int64_t> nd_ids;
    StrTable nat_forms;
    StrTable pron;                // source_lower → mask
    Span<int32_t> pron_mask;
    // word-id trie: words → wid, (state, sep, wid) → next state,
    // final states → their id lists; the probe table and s_term are built
    // from the image's dense steps and final states by load_image.  Step
    // e of t_keys makes state e + 1 (GazetteerAutomaton.add), so the image
    // stores no next states
    StrTable words;
    vector<uint64_t> t_keys;      // (state << 32 | sep << 31 | wid), probed
    vector<int32_t> t_next;       // e + 1 for the step in the same slot
    vector<int32_t> s_term;       // state → term index (-1: not final)
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
        size_t mask = t.slots.size() - 1;
        size_t pos = (size_t)str_hash(s, len) & mask;
        for (size_t i = 0; i < t.slots.size(); i++, pos = (pos + 1) & mask) {
            int32_t e = t.slots[pos];
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
        size_t mask = t_keys.size() - 1;
        size_t pos = (size_t)mix64(key) & mask;
        for (size_t i = 0; i < t_keys.size(); i++, pos = (pos + 1) & mask) {
            uint64_t k = t_keys[pos];
            if (k == key) return t_next[pos];
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

// ---- one-time bounds check: every offset, index, enum and row id the
// scan and the stages read is in range afterwards, so a bad image raises
// here and never reaches them

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

// place every key of a string table in its probe slots, in order
static const char *build_table(const KBImage *img, StrTable &t,
                               int64_t n_str) {
    if (!all_in(t.key, 0, n_str)) return "hash key";
    t.slots.assign(probe_capacity(t.key.n), -1);
    size_t mask = t.slots.size() - 1;
    for (size_t e = 0; e < t.key.n; e++) {
        Str k = img->str(t.key.p[e]);
        size_t pos = (size_t)str_hash(k.p, k.n) & mask;
        for (; t.slots[pos] >= 0; pos = (pos + 1) & mask) {
            Str o = img->str(t.key.p[t.slots[pos]]);
            if (u32_eq(o.p, (Py_ssize_t)o.n, k.p, (Py_ssize_t)k.n))
                return "duplicate key";
        }
        t.slots[pos] = (int32_t)e;
    }
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
    static const int row_sid[] = {S_NAME_SID, S_COUNTRY_SID, S_START_SID,
                                  S_END_SID, S_TYPE_SID};
    for (int s : row_sid)
        if (cnt[s] != rows || !all_in(SPAN(int32_t, s), 0, n_str))
            return "row string ids";
    for (int s = S_GENDER; s <= S_CTX_KIND; s++)
        if (cnt[s] != rows) return "row flags";
    if (cnt[S_SCORE] != rows || cnt[S_CTX_CHAR] != rows) return "row arrays";
    if (!all_in(SPAN(uint8_t, S_GENDER), 0, 3) ||
        !all_in(SPAN(uint8_t, S_TYPE_EXACT), 0, 3) ||
        !all_in(SPAN(uint8_t, S_CTX_KIND), 0, CTX_CHAR + 1))
        return "row enums";
    img->score = (const double *)sec[S_SCORE];
    img->name_sid = (const int32_t *)sec[S_NAME_SID];
    img->country_sid = (const int32_t *)sec[S_COUNTRY_SID];
    img->start_sid = (const int32_t *)sec[S_START_SID];
    img->end_sid = (const int32_t *)sec[S_END_SID];
    img->type_sid = (const int32_t *)sec[S_TYPE_SID];
    img->ctx_char = (const uint32_t *)sec[S_CTX_CHAR];
    img->gender = (const uint8_t *)sec[S_GENDER];
    img->person_flag = (const uint8_t *)sec[S_PERSON_FLAG];
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
    img->name_dict.key = SPAN(int32_t, S_ND_KEY);
    img->nd_off = SPAN(uint32_t, S_ND_OFF);
    img->nd_ids = SPAN(int64_t, S_ND_IDS);
    img->nat_forms.key = SPAN(int32_t, S_NATF_KEY);
    img->pron.key = SPAN(int32_t, S_PRON_KEY);
    img->pron_mask = SPAN(int32_t, S_PRON_MASK);
    img->words.key = SPAN(int32_t, S_W_KEY);
    for (StrTable *t : {&img->name_dict, &img->nat_forms, &img->pron,
                        &img->words}) {
        const char *err = build_table(img, *t, n_str);
        if (err) return err;
    }
    if (img->nd_off.n != img->name_dict.key.n + 1 ||
        !offsets_ok(img->nd_off, img->nd_ids.n) ||
        !all_in(img->nd_ids, 1, n + 1))
        return "name_dict ids";
    if (img->pron_mask.n != img->pron.key.n) return "pronoun masks";
    // the trie: its steps into the probe table, its final states into s_term
    Span<uint64_t> keys = SPAN(uint64_t, S_T_KEYS);
    Span<int32_t> term_state = SPAN(int32_t, S_TERM_STATE);
    img->term_off = SPAN(uint32_t, S_TERM_OFF);
    img->term_ids = SPAN(int64_t, S_TERM_IDS);
    const int64_t n_states = (int64_t)keys.n + 1;  // each step makes one
    if (n_states >= INT32_MAX) return "trie transitions";
    img->t_keys.assign(probe_capacity(keys.n), T_EMPTY);
    img->t_next.assign(img->t_keys.size(), -1);
    size_t mask = img->t_keys.size() - 1;
    for (size_t e = 0; e < keys.n; e++) {
        uint64_t key = keys.p[e];
        if ((int64_t)(key >> 32) >= n_states) return "trie transitions";
        size_t pos = (size_t)mix64(key) & mask;
        for (; img->t_keys[pos] != T_EMPTY; pos = (pos + 1) & mask)
            if (img->t_keys[pos] == key) return "duplicate trie step";
        img->t_keys[pos] = key;
        img->t_next[pos] = (int32_t)(e + 1);
    }
    if (img->term_off.n != term_state.n + 1 ||
        !offsets_ok(img->term_off, img->term_ids.n) ||
        !all_in(term_state, 0, n_states) || !all_in(img->term_ids, 0, n + 1))
        return "trie ids";
    img->s_term.assign((size_t)n_states, -1);
    for (size_t k = 0; k < term_state.n; k++) {
        if (img->s_term[(size_t)term_state.p[k]] >= 0)
            return "duplicate final state";
        img->s_term[(size_t)term_state.p[k]] = (int32_t)k;
    }
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

// per-match pre-pass flags (ckernel.py _frag_helper)
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
    PyObject *iso_out;  // borrowed; iso()
    int32_t conf;
    U32 swz;            // show_without_zeros()
};

static const int64_t SENSE_NONE = INT64_MIN;  // register key for None

// EntityRegister (resolve.py Register): forward map eager, per-sense buckets
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
// Context (resolve.py Context)
// ---------------------------------------------------------------------------

// bucket field keys: single type-string chars by codepoint, and "person"
// (the 'organization'/'event'/'settlement' keys context.py probes are
// never made — char quirk — so their probes are gone)
static const uint32_t FK_PERSON = 0xFFFFFFFFu;

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
    vector<int64_t> paragraphs;
    vector<ParStats> par;            // by paragraph index
    std::unordered_set<int64_t> people_in_text;  // person lines seen
    Py_ssize_t paragraph_index = 0;
    // pronoun registers (mention idx, -1 == None): only the gender ones
    // are ever read (context.py:331-342)
    int32_t last_male = -1, last_female = -1, last_unknown_gender = -1;

    void init(Doc &d, const vector<ED> &ed, const vector<int32_t> &nats);
    void recompute_paragraph_offset(int64_t start);
    void update(Doc &d, int32_t mi);
    double mentioned_in_par(int32_t name_sid, uint32_t field);
    double person_percentile(const Doc &d, int64_t candidate);
    double common_percentile(int64_t candidate, uint32_t ch);
    double dated_percentile(int64_t candidate);
};

// ---------------------------------------------------------------------------
// Doc: one resolve_document call's state
// ---------------------------------------------------------------------------

struct SIdx {  // sentences for the verb + JOBS rule (build_sidx)
    vector<int64_t> dots, opens, closes;
    vector<vector<int64_t>> verb_occ;  // per pack verb
    bool has_verbs = false;
    bool built = false;
};

struct Doc {
    const KBImage *kb;
    U32 text;
    vector<Mention> men;
    vector<DateM> dates;
    vector<int64_t> paragraphs;
    SIdx sidx;
};

static void find_all(const U32 &text, Py_UCS4 c, vector<int64_t> &out) {
    for (size_t i = 0; i < text.size(); i++)
        if (text[i] == c) out.push_back((int64_t)i);
}

static void find_all_str(const U32 &text, const Str &needle,
                         vector<int64_t> &out) {
    // find(needle, i+1) — overlapping allowed
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

// resolve.py _right_sentence: paren-skipping sentence tail
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
// Context implementation (resolve.py Context)
// ---------------------------------------------------------------------------

void Context::init(Doc &d, const vector<ED> &ed, const vector<int32_t> &nats) {
    kb = d.kb;
    paragraphs = d.paragraphs;
    par.clear();
    par.resize(paragraphs.size());

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
        // type's LAST char (resolve.py Context.__init__; empty char buckets
        // that the reference's char loop would setdefault are observably
        // inert — mentioned_in_par treats empty == missing — and are not
        // created)
        std::unordered_set<int64_t> probed;
        while (ent_index < n_ed && ed[ent_index].start < nxt) {
            const ED &e = ed[ent_index];
            if (!e.is_date) {
                Mention &m = d.men[(size_t)e.idx];
                m.begin_of_paragraph = par_off;
                if (!m.poorly_disambiguated) {
                    // "pref is a KB line id here" (Context.__init__): a
                    // mention stops being poorly disambiguated only where
                    // a KB id is stored (dwoc, dwc, fix_poor), and no
                    // Mention pref exists before the coref stage
                    int64_t line = m.pref.v;
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
                        if (kb->person_sub[(size_t)c]) {
                            for (int32_t rsid : kb->roles[(size_t)c]) {
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
            }
            ent_index++;
        }
    }
}

// resolve.py Context.recompute_paragraph_offset — forward-only paragraph
// walk (quirk preserved)
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

// resolve.py Context.update (only the person branch writes a read register)
void Context::update(Doc &d, int32_t mi) {
    Mention &m = d.men[(size_t)mi];
    Pref p = m.pref;
    if (p.tag == P_MEN) p = d.men[(size_t)p.v].pref;
    // (None → get_ent_type == "" → not a person; Context.update)
    if (p.tag != P_INT || !kb->person_sub[(size_t)p.v]) return;
    uint8_t g = kb->gender[(size_t)p.v];
    if (g == 1) { last_male = mi; last_unknown_gender = -1; }
    else if (g == 2) { last_female = mi; last_unknown_gender = -1; }
    else last_unknown_gender = mi;
}

// resolve.py Context.mentioned_in_par
double Context::mentioned_in_par(int32_t name_sid, uint32_t field) {
    ParStats &ps = par[(size_t)paragraph_index];
    auto it = ps.fields.find(field);
    if (it == ps.fields.end() || it->second.total == 0) return 0.0;
    auto ct = it->second.cnt.find(name_sid);
    if (ct == it->second.cnt.end() || ct->second == 0) return 0.0;
    return (double)ct->second * 100.0 / (double)it->second.total;
}

// resolve.py Context.person_percentile
double Context::person_percentile(const Doc &d, int64_t candidate) {
    ParStats &ps = par[(size_t)paragraph_index];
    const size_t ci = (size_t)candidate;
    double nat_score = 0.0;
    Span<int32_t> person_nats = kb->nats[ci];
    for (int32_t nm_idx : ps.nat_mentions) {
        const U32 &nat = d.men[(size_t)nm_idx].src_text();
        for (int32_t psid : person_nats)
            if (u32_eq(nat, kb->str(psid))) { nat_score += 1; break; }
    }
    if (!ps.nat_mentions.empty())
        nat_score = nat_score * 100.0 / (double)ps.nat_mentions.size();
    double date_score = 0.0;
    Span<int32_t> person_dates = kb->pdates[ci];
    for (const U32 *cd : ps.dates)
        for (int32_t dsid : person_dates) {
            Str pd = kb->str(dsid);
            if (u32_contains(*cd, pd) || u32_contains(pd, *cd)) date_score += 1;
        }
    if (!ps.dates.empty())
        date_score = date_score * 100.0 / (double)ps.dates.size();
    double prof_score = 0.0;
    Span<int32_t> roles = kb->roles[ci];
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
    double mention = mentioned_in_par(kb->name_sid[ci], FK_PERSON);
    return (stat + mention) / 4.0;
}

// resolve.py Context.common_percentile (single-char bucket probe)
double Context::common_percentile(int64_t candidate, uint32_t ch) {
    return mentioned_in_par(kb->name_sid[(size_t)candidate], ch);
}

// resolve.py Context.dated_percentile (the reference's org/event score less
// its name and LOCATION probes, which read buckets that are never made)
double Context::dated_percentile(int64_t candidate) {
    int32_t ds[2] = {kb->start_sid[(size_t)candidate],
                     kb->end_sid[(size_t)candidate]};
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
    return date_score / 3.0;
}

// ---------------------------------------------------------------------------
// Disambiguation (resolve.py disambiguate_without/with_context)
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
static void en_sense_rules(const Doc &d, Mention &m) {
    const KBImage *kb = d.kb;
    Py_ssize_t n = (Py_ssize_t)d.text.size();
    bool rs = m.end + 2 <= n && d.text[(size_t)m.end] == '\'' &&
              d.text[(size_t)m.end + 1] == 's';
    bool the = m.flags & FL_THE_TITLE;
    bool ls = m.start >= 6 &&
              u32_eq(d.text.data() + m.start - 6, 6, INTO_PAD, 6);
    if (!(rs || the || ls)) return;
    vector<int64_t> out;
    for (int64_t s : m.senses) {
        bool loc = kb->loc_sub[(size_t)s];
        if (loc && (rs || the)) continue;
        if (!loc && ls) continue;
        out.push_back(s);
    }
    m.senses.swap(out);
}

// resolve.py disambiguate_without_context
static void dwoc(Doc &d, Register &reg, int32_t mi) {
    const KBImage *kb = d.kb;
    Mention &m = d.men[(size_t)mi];
    if ((m.flags & FL_PRON_ANY) || !m.pms.empty()) {
        m.is_coreference = true;
        return;
    }
    en_sense_rules(d, m);

    // artist → exclude groups
    for (int64_t s : m.senses) {
        if (kb->artist[(size_t)s]) {
            vector<int64_t> kept;
            for (int64_t x : m.senses)
                if (!kb->group[(size_t)x]) kept.push_back(x);
            m.senses.swap(kept);
            break;
        }
    }

    // verb + JOBS elimination (disambiguate_without_context)
    int64_t verb_index = -1;
    bool has_person = false;
    for (int64_t s : m.senses)
        if (kb->person_flag[(size_t)s]) { has_person = true; break; }
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
        // the post-verb window: the paren-free sentence from the verb, or
        // the text from the verb to the sentence end
        const Py_UCS4 *w = have_sentence ? sentence.data() : d.text.data();
        int64_t lo = have_sentence ? verb_index : m.end + verb_index;
        int64_t hi = have_sentence ? (int64_t)sentence.size() : send;
        // professions: first person sense whose JOBS match post-verb
        vector<int32_t> professions;
        for (int64_t s : m.senses) {
            if (!kb->person_flag[(size_t)s]) continue;
            vector<int32_t> cand;
            for (int32_t jsid : kb->jobs[(size_t)s]) {
                Str job = kb->str(jsid);
                // search " " + job + " " in the window
                for (int64_t i = lo; i + (int64_t)job.size() + 2 <= hi; i++) {
                    if (w[i] == ' ' && w[i + 1 + job.size()] == ' ' &&
                        (job.empty() ||
                         memcmp(w + i + 1, job.data(),
                                job.size() * sizeof(Py_UCS4)) == 0)) {
                        cand.push_back(jsid);
                        break;
                    }
                }
            }
            if (!cand.empty()) { professions.swap(cand); break; }
        }
        if (!professions.empty()) {
            vector<int64_t> new_senses;
            for (int64_t s : m.senses) {
                if (!kb->person_flag[(size_t)s]) continue;
                Span<int32_t> jb = kb->jobs[(size_t)s];
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
    if (m.candidates.empty()) return;
    if (m.candidates.size() == 1) {
        set_preferred(d, reg, mi, Pref{P_INT, m.candidates[0]});
        m.poorly_disambiguated = false;
    } else if (m.score.empty()) {
        set_preferred(d, reg, mi, Pref{P_INT, m.candidates[0]});
    }
    // resolve.py's `if not m.has_preferred_sense()` block is dead: only
    // dwc fills score, and dwoc runs again only on mentions that were
    // coreferences (dwc skips those), so one of the branches above has
    // just set a sense id, which is never 0
}

// resolve.py disambiguate_with_context
static void dwc(Doc &d, Context &ctx, Register &reg, int32_t mi) {
    const KBImage *kb = d.kb;
    Mention &m = d.men[(size_t)mi];
    if (m.is_coreference || m.candidates.empty()) return;
    ctx.recompute_paragraph_offset(m.start);
    vector<double> score, static_score, context_score_l;
    bool poorly = m.poorly_disambiguated;
    for (int64_t c : m.candidates) {
        double st = kb->score[(size_t)c];
        double context_score = 0.0;
        uint8_t k = kb->ctx_kind[(size_t)c];
        if (k == CTX_PERSON) context_score = ctx.person_percentile(d, c);
        else if (k == CTX_DATED) context_score = ctx.dated_percentile(c);
        else if (k == CTX_CHAR)
            context_score = ctx.common_percentile(c, kb->ctx_char[(size_t)c]);
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

    // explicit per-paragraph person bump (disambiguate_with_context)
    if (kb->person_sub[(size_t)pref] && m.candidates.size() != 1) {
        Bucket &b = ctx.par[(size_t)ctx.paragraph_index].fields[FK_PERSON];
        b.cnt[kb->name_sid[(size_t)pref]] += 1;
        b.total += 1;
    }
}

// ---------------------------------------------------------------------------
// Coreference (resolve.py resolve_pronoun_coreference..resolve_coreferences)
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

// resolve.py resolve_pronoun_coreference
static void pronoun_coref(Doc &d, Context &ctx, Register &reg, int32_t mi) {
    Mention &m = d.men[(size_t)mi];
    if (is_location_coreference(d, m)) return;
    int64_t bop = m.begin_of_paragraph >= 0 ? m.begin_of_paragraph : 0;
    // the register of the pronoun's gender (M first, as in the twin)
    int32_t *last = (m.flags & FL_PRON_M)   ? &ctx.last_male
                    : (m.flags & FL_PRON_F) ? &ctx.last_female
                                            : nullptr;
    if (!last) return;
    if (ctx.last_unknown_gender >= 0) {
        *last = ctx.last_unknown_gender;
        ctx.last_unknown_gender = -1;
    }
    if (*last >= 0 && d.men[(size_t)*last].start >= bop) {
        // get_preferred_entity: the antecedent itself or its Mention pref
        int32_t ant = *last;
        const Pref &ap = d.men[(size_t)ant].pref;
        int64_t target = ap.tag == P_MEN ? ap.v : ant;
        set_preferred(d, reg, mi, Pref{P_MEN, target});
    }
}

// resolve.py _get_nearest_predecessor — smallest positive start distance,
// or -1
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

// resolve.py _get_nearest_entity_sense — min (|Δstart|, start), stable
// (first minimal)
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

// resolve.py fix_poor_disambiguation
static void fix_poor(Doc &d, Register &reg, const vector<int32_t> &entities) {
    // strong keyed by source content (== source_id) / by raw sense
    std::unordered_map<int32_t, vector<int32_t>> strong;       // srcid → ents
    std::unordered_map<int64_t, vector<int32_t>> strong_by_id; // sense → ents
    vector<int32_t> ents;
    for (int32_t mi : entities)
        if (!d.men[(size_t)mi].is_coreference) ents.push_back(mi);
    for (int32_t mi : ents) {
        Mention &e = d.men[(size_t)mi];
        if (e.poorly_disambiguated) continue;
        // a strong entity's pref is a KB id: Mention prefs are only set
        // by the coref stage, which runs after this one
        strong[e.source_id].push_back(mi);
        strong_by_id[e.pref.v].push_back(mi);
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
}

// resolve.py resolve_coreferences (print_all always False here —
// the C kernel serves mode="default" only)
static void resolve_corefs(Doc &d, Context &ctx, Register &reg,
                           const vector<int32_t> &entities) {
    const KBImage *kb = d.kb;
    for (int32_t mi : entities) {
        Mention &e = d.men[(size_t)mi];
        if (!e.is_coreference && pref_truthy(e.pref)) {
            Pref p = e.pref;
            if (p.tag == P_MEN) p = d.men[(size_t)p.v].pref;
            if (p.tag == P_INT && kb->person_sub[(size_t)p.v])
                ctx.people_in_text.insert(p.v);
        }
    }
    for (int32_t mi : entities) {
        Mention &e = d.men[(size_t)mi];
        if (e.is_coreference) {
            // filter pms to people_in_text
            vector<int64_t> pms2;
            for (int64_t s : e.pms)
                if (ctx.people_in_text.count(s)) pms2.push_back(s);
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
                    dwoc(d, reg, mi);
                    dwc(d, ctx, reg, mi);
                }
            } else if (e.flags & FL_PRON_ANY) {
                pronoun_coref(d, ctx, reg, mi);
            } else if (!e.senses.empty()) {
                e.is_coreference = false;
                dwoc(d, reg, mi);
                dwc(d, ctx, reg, mi);
            }
        }
        if (pref_truthy(d.men[(size_t)mi].pref)) ctx.update(d, mi);
    }
}

// ---------------------------------------------------------------------------
// Relational filters (resolve.py remove_shorter/remove_nearby_entities)
// ---------------------------------------------------------------------------

// resolve.py remove_shorter_entities — first-come occupancy over inclusive
// [start, end]
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

// resolve.py remove_nearby_entities
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
        // get_ent_type of get_preferred_sense (one hop through a Mention
        // pref): None → ""
        auto texact = [&](const Mention &m) -> uint8_t {
            Pref p = m.pref;
            if (p.tag == P_MEN) p = d.men[(size_t)p.v].pref;
            return p.tag == P_INT ? kb->type_exact[(size_t)p.v] : 0;
        };
        uint8_t t1 = texact(ent);
        if (t1 == 0) continue;  // not "person"/"location"
        if (texact(bef) == t1) {
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
// run_stages: the per-document driver (resolve.py resolve_document, default)
// ---------------------------------------------------------------------------

static PyObject *s_kb, *s_coref, *s_date;  // interned kinds

static bool parse_dates(Doc &d, PyObject *dates) {
    Py_ssize_t n = PyList_GET_SIZE(dates);
    d.dates.resize((size_t)n);
    for (Py_ssize_t i = 0; i < n; i++) {
        PyObject *t = PyList_GET_ITEM(dates, i);
        if (!PyTuple_Check(t) || PyTuple_GET_SIZE(t) != 6) {
            PyErr_SetString(PyExc_ValueError, "date tuple arity != 6");
            return false;
        }
        DateM &dm = d.dates[(size_t)i];
        dm.start = (int32_t)PyLong_AsLong(PyTuple_GET_ITEM(t, 0));
        dm.end = (int32_t)PyLong_AsLong(PyTuple_GET_ITEM(t, 1));
        dm.source = PyTuple_GET_ITEM(t, 2);
        dm.iso_out = PyTuple_GET_ITEM(t, 3);
        dm.conf = (int32_t)PyLong_AsLong(PyTuple_GET_ITEM(t, 4));
        dm.swz = to_u32(PyTuple_GET_ITEM(t, 5));
    }
    return !PyErr_Occurred();
}

static PyObject *run_stages(Doc &d) {
    Register reg(d.men.size());

    // stage 1: global senses + pms intersection (resolve_document)
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

    // stage 2: remove_shorter + nationality/entity split (resolve_document)
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

    // stage 3: date-entity overlap filter (resolve_document)
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
    // (resolve_document: [dates] + [entities] through a stable sort)
    vector<ED> ed;
    ed.reserve(kept_dates.size() + entities.size());
    for (int32_t di : kept_dates)
        ed.push_back(ED{1, di, (int64_t)d.dates[(size_t)di].start});
    for (int32_t mi : entities)
        ed.push_back(ED{0, mi, (int64_t)d.men[(size_t)mi].start});
    std::stable_sort(ed.begin(), ed.end(),
                     [](const ED &a, const ED &b) { return a.start < b.start; });

    // stage 5: disambiguate without context (resolve_document)
    for (int32_t mi : entities) dwoc(d, reg, mi);

    // stage 6: context pass 1 + scalar dwc sweep + fix_poor
    Context ctx1;
    ctx1.init(d, ed, nationalities);
    for (int32_t mi : entities) dwc(d, ctx1, reg, mi);
    fix_poor(d, reg, entities);

    // stage 7: fresh context + two coref passes (resolve_document)
    Context ctx2;
    ctx2.init(d, ed, nationalities);
    vector<int32_t> name_corefs;
    for (int32_t mi : entities) {
        const Mention &e = d.men[(size_t)mi];
        if (!(e.flags & FL_PRON_ANY) && !(e.flags & FL_THE_LOWER))
            name_corefs.push_back(mi);
    }
    resolve_corefs(d, ctx2, reg, name_corefs);
    resolve_corefs(d, ctx2, reg, entities);

    // stage 8: resolve.py remove_nearby_entities (the proper-noun overlap
    // stage before it is the identity; see resolve_document)
    remove_nearby(d, entities);

    vector<uint8_t> kept(d.men.size(), 0);
    for (int32_t mi : entities) kept[(size_t)mi] = 1;

    // stage 9: final default-mode filter + output (resolve_document)
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
                s_date, dm.source, Py_None,
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
//                  frag_cb) -> list[tuple]
static PyObject *scan_resolve_doc(PyObject *self, PyObject *args) {
    PyObject *icap, *text_o, *scan_o, *dates, *paragraphs, *frag_cb;
    if (!PyArg_ParseTuple(args, "OO!OO!O!O", &icap, &PyUnicode_Type,
                          &text_o, &scan_o, &PyList_Type, &dates,
                          &PyList_Type, &paragraphs, &frag_cb))
        return NULL;
    KBImage *kb = (KBImage *)PyCapsule_GetPointer(icap, "ner_spark.kbimage");
    if (!kb) return NULL;
    // bound the fragment cache BETWEEN documents only — mention structs
    // hold pointers into it for the duration of one call
    if (kb->frag_cache.size() > (1u << 20)) kb->frag_cache.clear();

    Doc d;
    d.kb = kb;
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
            int32_t term = kb->s_term[(size_t)state];
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
            // senses: ordered dedup of nonzero ids (resolve.py Mention)
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
     "scan_resolve_doc(image, text, scan_text, dates, paragraphs, frag_cb)"
     " -> list[tuple]"},
    {NULL, NULL, 0, NULL}};

static struct PyModuleDef moduledef = {
    PyModuleDef_HEAD_INIT, "_resolve_ck",
    "Compiled resolve kernel (see ner_spark/semantics/_resolve_kernel.cpp)",
    -1, Methods};

PyMODINIT_FUNC PyInit__resolve_ck(void) {
    PyObject *m = PyModule_Create(&moduledef);
    if (!m) return NULL;
    PyModule_AddIntConstant(m, "IMAGE_VERSION", IMAGE_VERSION);
    s_kb = PyUnicode_InternFromString("kb");
    s_coref = PyUnicode_InternFromString("coref");
    s_date = PyUnicode_InternFromString("date");
    return m;
}
