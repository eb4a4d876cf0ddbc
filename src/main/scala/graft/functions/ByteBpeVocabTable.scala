package graft.functions

/** The raw byte-level fixture merge table (see [[ByteBpeVocab]]):
  * 48 merges learned by `bpeTrainBytes` over the sf0.1 documents.
  * `ByteBpeSpec` ("byte trainer reproduces the fixture table") retrains
  * it and prints the learned table when the two differ.
  * Leading-space tokens (" s", " v", …) are the GPT-2 pre-tokenizer's
  * space-attached words.
  */
private[functions] object ByteBpeVocabTable {
  val Merges: Seq[(String, String)] = Seq(
    (" ", "s"), ("e", "r"), ("i", "n"), ("o", "r"), ("o", "w"),
    ("t", "a"), ("l", "u"), ("m", "er"), ("s", "t"), ("a", "r"),
    ("p", "ar"), (" ", "v"), (" ", "c"), (" ", "f"), (" ", "b"),
    (" ", "a"), ("u", "p"), (" ", "d"), ("par", "k"), ("d", "ow"),
    ("in", "dow"), ("w", "indow"), ("g", "e"), ("mer", "ge"), ("b", "l"),
    ("bl", "e"), ("ta", "ble"), ("lu", "m"), ("lum", "n"), ("o", "lumn"),
    ("c", "t"), ("ct", "or"), ("e", "ctor"), ("a", "m"), ("e", "am"),
    ("r", "eam"), ("a", "lu"), ("alu", "e"), ("a", "ta"), ("a", "l"),
    ("al", "l"), ("m", "all"), ("j", "o"), ("jo", "in"), ("i", "l"),
    ("il", "t"), ("ilt", "er"), ("i", "g"))
}
